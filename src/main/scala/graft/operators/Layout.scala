package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

import graft.{Q, Tables}
import graft.functions.ZOrder

/** Multi-dimensional data layout: Z-order clustered writes and the
  * zone-map arithmetic that proves they prune.
  *
  * The 100 TB story: a lake table is scanned through file/row-group
  * min-max statistics. A LINEAR sort gives selective statistics to its
  * leading column only — a predicate on any other column still reads
  * every file. Clustering by the interleaved [[ZOrder]] key bounds
  * EVERY participating dimension inside each file (a file covering a
  * contiguous z-range covers a small hyper-rectangle of the key space),
  * so point/range predicates on dimension 2 or 3 skip most files too.
  * ZOrderSpec measures exactly that: same rows, same file count, only
  * the layout differs — the z-layout's candidate-file set for a
  * second-dimension predicate is a fraction of the linear layout's.
  *
  * The reference never owns file layout (it streams remote results;
  * `core/src/sql/sql_provider_datafusion/mod.rs:312-317` declares every
  * scan a single bounded partition), but a training-data pipeline that
  * WRITES curated corpora decides its own layout — this is the
  * write-side twin of the scan-side pruning the connector layer pushes
  * to remotes.
  */
object Layout extends org.apache.spark.internal.Logging {

  /** The table's SINGLE-MAINTAINER lock, shared by every maintenance op
    * that mutates `path` in place ([[mergeInto]], [[compactAndSwap]]) —
    * an atomic `<path>.compacting` create. The two ops compose only
    * under one maintainer: a merge racing a swap could otherwise write
    * its dynamic-partition output into a generation the swap renames
    * out from under it mid-publish (r12 verdict, "What's wrong" #3).
    * A crash leaves the lock behind BY DESIGN — the next caller fails
    * with instructions rather than racing a possibly-live writer; an
    * in-process failure releases it (the committer/rollback guarantees
    * below make every in-process failure full-rollback).
    */
  private[graft] def acquireMaintenanceLock(fs: org.apache.hadoop.fs.FileSystem,
                                            path: String): org.apache.hadoop.fs.Path = {
    val lock = new org.apache.hadoop.fs.Path(path + ".compacting")
    val locked =
      try fs.createNewFile(lock)
      catch { case _: java.io.IOException => false }
    if (!locked) throw new IllegalStateException(
      s"maintenance lock: $lock exists — another maintainer (merge or " +
        "compaction) is mutating this table (or crashed holding the " +
        "lock); remove the lock only after confirming no maintenance " +
        "op is running")
    lock
  }

  /** Release the maintenance lock, LOUDLY: a silently failed delete
    * would make the next maintainer's "another maintainer" error look
    * like a phantom concurrent writer instead of a delete failure
    * (ADVICE r12).
    */
  private[graft] def releaseMaintenanceLock(fs: org.apache.hadoop.fs.FileSystem,
                                            lock: org.apache.hadoop.fs.Path): Unit =
    if (!fs.delete(lock, false) && fs.exists(lock))
      logWarning(s"maintenance lock $lock could not be deleted — the next " +
        "maintainer will see a stale lock from THIS completed run, not a " +
        "concurrent writer")

  /** Linear min-max scaling of an integral column into the 16-bit rank
    * domain [[ZOrder.Bits]] expects, in exact integer arithmetic
    * (`div`, never `/` — CLAUDE.md rule). Contract: `max - min` must
    * stay under 2^47 so `(v - min) * 65535` cannot overflow a Long —
    * true for every key domain this engine targets (monotone ids,
    * sizes, dates-as-days, bucket ranks).
    */
  def rankScale(v: Column, min: Long, max: Long): Column = {
    val span = max - min
    require(span >= 0, s"rankScale: min $min > max $max")
    require(span < (1L << 47), s"rankScale: span $span risks Long overflow")
    if (span == 0) lit(0L)
    else Bridge.column(IntegralDivide(
      Bridge.expression((v.cast("long") - lit(min)) * lit(ZOrder.Mask)),
      Bridge.expression(lit(span))))
  }

  /** Collect per-column min/max in ONE tiny aggregate (driver state =
    * 2 longs per column — k-bounded, never data-sized).
    */
  def columnRanges(df: DataFrame, cols: Seq[String]): Map[String, (Long, Long)] = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__min_$c"),
      max(col(c).cast("long")).as(s"__max_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) =>
      // an empty frame / all-null column yields NULL min/max — fail with
      // the column named instead of letting getLong NPE bare from
      // zkey/clusterWrite
      require(!row.isNullAt(2 * i) && !row.isNullAt(2 * i + 1),
        s"columnRanges: column '$c' has no non-null values " +
          "(empty input or all-null column) — cannot derive a z-order range")
      c -> (row.getLong(2 * i), row.getLong(2 * i + 1))
    }.toMap
  }

  /** The clustered z-key for `cols` over `df`, range-normalized per
    * column so arbitrary domains fill the 16-bit lattice.
    */
  def zkey(df: DataFrame, cols: Seq[String]): Column = {
    val ranges = columnRanges(df, cols)
    ZOrder.zorder(cols.map { c =>
      val (lo, hi) = ranges(c)
      rankScale(col(c), lo, hi)
    }: _*)
  }

  /** Write `df` as `files` parquet files clustered on the z-key of
    * `cols`: range-partition by key (each file owns a contiguous
    * z-range ⇒ a small hyper-rectangle per file) and sort within
    * partitions (row groups inside a file tighten the same way). Three
    * passes over the input (per-column min/max aggregate for rank
    * scaling + range-boundary sampling + write) — the standard price of
    * a clustered rewrite, amortized over every scan that prunes
    * thereafter; at lake scale the min/max pass comes free from
    * existing footer statistics.
    */
  def clusterWrite(df: DataFrame, cols: Seq[String], out: String, files: Int): Unit =
    clustered(df, cols, files).write.mode("overwrite").parquet(out)

  /** The pre-write clustered frame ([[clusterWrite]] minus the sink) —
    * PlanAuditSpec pins its shape: ONE range exchange on the z-key plus
    * a per-partition sort, never a global sort (each output file is
    * independently sorted; no total order across files is needed or
    * paid for).
    */
  def clustered(df: DataFrame, cols: Seq[String], files: Int): DataFrame = {
    val k = zkey(df, cols)
    df.repartitionByRange(files, k).sortWithinPartitions(k)
  }

  /** Linear-layout control for the same write (sorted by the FIRST
    * column only) — what z-order is measured against.
    */
  def linearWrite(df: DataFrame, leading: String, out: String, files: Int): Unit =
    df.repartitionByRange(files, col(leading))
      .sortWithinPartitions(col(leading))
      .write.mode("overwrite").parquet(out)

  /** Per-file zone map of one column — the min-max statistics a
    * pruning scan consults, read back as data (one aggregate over the
    * files; at lake scale this comes free from footers/manifests).
    */
  def zoneMap(spark: SparkSession, path: String, c: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(c)).cast("long").as("lo"), max(col(c)).cast("long").as("hi"))

  /** Multi-column zone map in ONE pass over the files (`lo_c`/`hi_c`
    * per column) — what [[prunedReadRect]] consults so a d-dimensional
    * probe costs one stats scan, not d.
    */
  def zoneMapAll(spark: SparkSession, path: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"lo_$c"),
      max(col(c)).cast("long").as(s"hi_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** How many files a stats-pruned scan with predicate `c = v` must
    * read under this layout.
    */
  def candidateFiles(zm: DataFrame, v: Long): Long =
    zm.filter(col("lo") <= v && col("hi") >= v).count()

  /** Columns of one parquet file that carry a bloom filter in ANY row
    * group (footer read only — manifest-cost, no page I/O). A file with
    * zero row groups yields the empty set. ZOrderSpec's regime-boundary
    * pin reads footers through it, so the footer-reading quirks live in
    * one place.
    */
  def bloomColumns(spark: SparkSession, file: java.io.File): Set[String] = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      rdr.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getBloomFilterOffset >= 0)
        .map(_.getPath.toDotString).toSet
    } finally rdr.close()
  }

  /** Stats-pruned scan: consult the zone map for `c BETWEEN lo AND hi`,
    * read ONLY the candidate files, and apply the residual filter (zone
    * ranges admit false positives, never false negatives — min/max
    * containment is necessary for a match, so skipped files provably
    * hold no qualifying row).
    *
    * The candidate list is manifest-sized driver state — one row per
    * FILE, the same thing a lake format's file index holds — never
    * data-sized, so the collect is safe at any corpus size. Pass a
    * precomputed `zoneMap` (table-lifetime state, built once at write
    * time and amortized over every probe thereafter, exactly as a lake
    * manifest is); the default recomputes it from the files for
    * self-contained verification. BASELINE's round-11 layout curve
    * measures the payoff this read banks: at 100× a second-dimension
    * probe touches 8.5% of a z-clustered table's files vs 97% of the
    * linear control's.
    */
  def prunedRead(spark: SparkSession, path: String, c: String,
                 lo: Long, hi: Long, zm: Option[DataFrame] = None): DataFrame = {
    require(lo <= hi, s"prunedRead: empty range [$lo, $hi]")
    val files = zm.getOrElse(zoneMap(spark, path, c))
      .filter(col("lo") <= lit(hi) && col("hi") >= lit(lo))
      .select("file").collect().map(_.getString(0))
    val residual = col(c) >= lit(lo) && col(c) <= lit(hi)
    // basePath keeps the two branches schema-identical and preserves any
    // Hive partition columns when reading a leaf-file subset of a
    // partitioned table (without it, partition discovery is skipped and
    // the directory-derived columns silently vanish)
    if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.option("basePath", path)
      .parquet(files.toIndexedSeq: _*).filter(residual)
  }

  /** Rectangle-pruned scan — the query shape z-ordering actually
    * exists for: a conjunctive range predicate over SEVERAL clustered
    * dimensions. Each dimension's zone map admits its own candidate
    * set; a file must survive EVERY dimension's min/max test to be
    * read, so the candidate list is the INTERSECTION — strictly no
    * larger than any single dimension's, and on a z-clustered layout
    * (small hyper-rectangle per file) typically far smaller than
    * either: the 2-D selectivities multiply instead of the scan paying
    * the weaker one. Same false-positive-only guarantee, same
    * manifest-sized driver state, residual filter applied per
    * dimension.
    */
  def prunedReadRect(spark: SparkSession, path: String,
                     ranges: Seq[(String, Long, Long)],
                     zoneMap: Option[DataFrame] = None): DataFrame = {
    require(ranges.nonEmpty, "prunedReadRect: no ranges")
    ranges.foreach { case (c, lo, hi) =>
      require(lo <= hi, s"prunedReadRect: empty range [$lo, $hi] on $c") }
    // one stats pass for all dimensions; a file survives only if EVERY
    // dimension's min/max range intersects its probe range. Like
    // [[prunedRead]], pass a precomputed [[zoneMapAll]] frame (table-
    // lifetime manifest state, built once at write time) — the default
    // recomputes it for self-contained verification
    val zm = zoneMap.getOrElse(zoneMapAll(spark, path, ranges.map(_._1)))
    val keep = ranges.map { case (c, lo, hi) =>
      col(s"lo_$c") <= lit(hi) && col(s"hi_$c") >= lit(lo) }.reduce(_ && _)
    val candidate = zm.filter(keep).select("file")
      .collect().map(_.getString(0))
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
    if (candidate.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.option("basePath", path)
      .parquet(candidate.toIndexedSeq.sorted: _*).filter(residual)
  }

  /** Clustered write with parquet BLOOM FILTERS on the columns the
    * layout leaves scattered. The three skip levels compose: partition
    * directories prune the time dimension, zone maps prune the
    * clustered dimensions (contiguous ranges per file), and blooms
    * prune POINT lookups on high-cardinality columns whose values every
    * file still spans — where min/max statistics are provably useless
    * (each file's range covers the whole domain) a bloom rejects a row
    * group in O(1) probes without decoding a page. `ndv` sizes the
    * bitset per ROW GROUP (not per table): pass the expected distinct
    * count per row group, or accept parquet's default. Readers need no
    * cooperation — Spark's pushed equality predicates consult blooms
    * through parquet-mr's row-group filter automatically.
    *
    * Regime boundary, verified in ZOrderSpec: parquet DISCARDS the
    * bloom for a chunk that stays fully dictionary-encoded (the
    * dictionary page is already an exact membership filter, and the
    * reader's dictionary-based row-group skip uses it) — so at small
    * scale this option is correctly a no-op, and the bitsets appear
    * exactly when chunks overflow the dictionary page: the
    * high-cardinality 100 TB regime this write exists for.
    */
  def clusterWriteWithBloom(df: DataFrame, cols: Seq[String],
                            bloomCols: Seq[String], out: String, files: Int,
                            ndv: Long = 0L): Unit = {
    var w = clustered(df, cols, files).write
    for (c <- bloomCols) {
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
      if (ndv > 0) w = w.option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    w.mode("overwrite").parquet(out)
  }

  /** Date-partitioned write: the time dimension gets DIRECTORY-level
    * pruning (coarser and cheaper than zone maps — the planner drops
    * whole partitions from the file listing before any footer is
    * consulted), leaving the z-order budget free for non-time
    * dimensions. Repartitioning on the partition column first bounds
    * each date directory to `writersPerPartition` files instead of
    * tasks × dates small files — the layout mistake that turns a year
    * of 100 TB ingest into millions of 1 MB files.
    *
    * `writersPerPartition` sizes write parallelism WITHIN a date: the
    * default 1 funnels each date through one task (right when a date
    * holds well under an executor's worth of rows — gate scale); at
    * production scale a single day is hundreds of GB and must be
    * spread, so pass `salt` (any well-distributed data column, e.g.
    * the table's key) and the writer fans each date across
    * `writersPerPartition` tasks via `pmod(hash(salt), n)` — still
    * date-bounded file counts, now also write-parallel. AQE composes
    * correctly with the salt: undersized salted partitions coalesce
    * back together (tiny dates keep one file), oversized ones keep
    * their writers — the fan-out engages exactly at the scale that
    * needs it.
    */
  def partitionedWrite(df: DataFrame, partCol: String, out: String,
                       writersPerPartition: Int = 1,
                       salt: Option[Column] = None): Unit = {
    val dist =
      if (writersPerPartition <= 1 || salt.isEmpty) df.repartition(col(partCol))
      else df.repartition(col(partCol),
        pmod(hash(salt.get), lit(writersPerPartition)))
    dist.write.mode("overwrite").partitionBy(partCol).parquet(out)
  }

  /** Partition-scoped MERGE (upsert): apply `updates` — same schema as
    * the table, carrying the partition column, keyed by `key` — by
    * rewriting ONLY the partition directories the updates touch.
    * Existing rows with a matching key are replaced, new keys are
    * inserted, and every untouched partition directory is left
    * byte-identical (ZOrderSpec pins that on the file listing). This is
    * the maintenance op a 100 TB ingest actually runs: a late-data fix
    * for three days rewrites 3 directories, not 3,650.
    *
    * Key contract: `key` identifies a row WITHIN its partition, and an
    * update row must carry the partition its key currently lives in —
    * the merge is partition-scoped by definition, so a correction that
    * MOVES a key across partitions (a date fix on the key itself) is a
    * delete in the old partition plus this merge, not one call; a
    * single call would leave the stale row in the untouched partition.
    * This is the same contract every partition-scoped lake MERGE has:
    * enforcing it would mean scanning all untouched partitions, the
    * exact cost this op exists to avoid.
    *
    * Mechanics: the touched-partition list is `updates`-derived driver
    * state (k-bounded by the number of partitions touched, never
    * data-sized); the merged rows are materialized via localCheckpoint
    * — Spark refuses to overwrite a path its plan is simultaneously
    * reading, and the checkpoint severs that lineage WITHOUT a staged
    * on-disk parquet copy (half the write amplification, nothing
    * leaked) — then written under dynamic partition-overwrite, whose
    * committer atomically swaps exactly the directories present in the
    * new data (a mid-job failure leaves the table untouched; the merge
    * is rerun-safe). Deletes are the `updates.filter(tombstone)`
    * variant of the same flow; the reference's DML surface (W7/W8)
    * handles them on the remote-table side.
    *
    * Concurrency: takes the table's shared maintenance lock
    * ([[acquireMaintenanceLock]], the same `<path>.compacting` file
    * [[compactAndSwap]] holds) — a merge attempted while a swap is
    * publishing fails loudly instead of writing into a generation that
    * is being renamed out from under it. ALL in-place maintenance ops
    * on a path serialize on this one lock.
    *
    * Cost boundary (measured, BENCH100_r13 layoutsplit): the merge's
    * fixed overhead — touched-partition read, anti-join, checkpoint —
    * beats a full rewrite only when the table dwarfs the touched
    * fraction; at a 10 M-row / 30-partition fact the 2-day merge
    * measured 4.5 s vs 2.2 s for the full rewrite, while the r11/r12
    * merge-curve facts show the expected 0.32×-of-rewrite win. Below
    * roughly executor-memory-sized tables, just rewrite.
    *
    * Adaptive fallback (r13 verdict item 5): when the touched-partition
    * SHARE (touched dirs / total partition dirs — a manifest-sized
    * driver count, no value parsing) exceeds `rewriteShare`, the
    * surgical path stops paying — its localCheckpoint (a full extra
    * write+read of the touched data, needed only to sever the
    * read-overwrite cycle of the in-place dynamic commit) approaches
    * the cost of simply writing the whole merged table once. Past the
    * threshold the merge runs OUT OF PLACE instead: anti-join + union
    * over the FULL table (no touched filter, no checkpoint — staging
    * is not the read path), `partitionedWrite` to `<path>.merge-staging`,
    * then the compactAndSwap rename pair under the SAME maintenance
    * lock already held. Result rows are identical either path
    * (ZOrderSpec pins it); what the fallback trades away is the
    * untouched-dirs-byte-identical property — callers above the
    * threshold rewrote (almost) everything anyway. Default threshold
    * from the r14 sweep (BASELINE "merge crossover"): the surgical
    * path's advantage inverts past ~half the partitions touched.
    *
    * Crash discipline (r15): a crash BETWEEN the fallback's two renames
    * leaves live ABSENT with the complete merged generation in
    * `.merge-staging` — the entry adjudicates that state BEFORE the
    * bootstrap branch: `_SUCCESS`-complete staging is published forward
    * (then the current updates merge into the recovered table); a
    * PARTIAL staging or stranded `.retired-*` beside an absent live
    * fails loudly naming the state instead of silently rebuilding the
    * table from one batch. Mirrors [[compactAndSwap]]'s recovery.
    */
  def mergeInto(spark: SparkSession, path: String, updates: DataFrame,
                partCol: String, key: String,
                rewriteShare: Double = MergeRewriteShare): Unit = {
    val touched = updates.select(col(partCol)).distinct().collect()
      .map(_.get(0))
    if (touched.isEmpty) return
    // bootstrap: a first merge into a not-yet-existing table IS the
    // initial partitioned write (the streaming ingest seam hits this on
    // its first micro-batch)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    // same lock as compactAndSwap: a merge must never write into a
    // generation a concurrent swap is renaming away (the committer's
    // atomicity holds WITHIN one op, not across two maintainers)
    val lock = acquireMaintenanceLock(fs, path)
    try {
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      val staged = path + ".merge-staging"
      def listRetired(prefix: String): Array[org.apache.hadoop.fs.Path] = {
        val parent = hPath.getParent
        if (parent == null || !fs.exists(parent)) Array.empty
        else fs.listStatus(parent).map(_.getPath)
          .filter(_.getName.startsWith(hPath.getName + prefix))
      }
      if (!fs.exists(hPath) || fs.listStatus(hPath).isEmpty) {
        // Before treating an absent/empty live path as a NEW table,
        // adjudicate the crash states a prior fallback merge can leave
        // (r14 verdict #1): a crash BETWEEN its two renames leaves live
        // ABSENT with the COMPLETE merged generation (committer
        // `_SUCCESS`-proven, never assumed from mere existence) in
        // `.merge-staging` — bootstrapping from `updates` here would
        // silently rebuild the table from ONE batch and orphan the
        // corpus. Same forward-recovery discipline as [[compactAndSwap]]:
        // publish the staged generation, reap the crash's now-redundant
        // `.retired-*` generation(s) loudly, then merge the current
        // updates into the recovered table as usual.
        val stagedComplete = fs.exists(p(staged + "/_SUCCESS"))
        val retiredSiblings = listRetired(".retired-")
        if (stagedComplete) {
          if (fs.exists(hPath) && !fs.delete(hPath, true))
            throw new IllegalStateException(
              s"mergeInto: cannot clear empty live $path for forward recovery")
          if (!fs.rename(p(staged), hPath))
            throw new IllegalStateException(
              s"mergeInto: cannot complete crashed publish of $staged")
          // Reap ONLY merge-owned `.retired-m*` generations here (VERDICT
          // r16 #1): [[compactAndSwap]]'s unmarked `.retired-<nanos>`
          // siblings are returned to THEIR caller for reader draining —
          // a compact's generation can still be draining when a fallback
          // merge crashes between its renames, and deleting it here would
          // pull the files out from under those readers. Same filter the
          // commit-path reap below applies; non-m siblings survive
          // recovery untouched (their caller owns their deletion).
          retiredSiblings.filter(_.getName.contains(".retired-m")).foreach { r =>
            if (!fs.delete(r, true) && fs.exists(r))
              logWarning(s"mergeInto: retired generation $r could not be " +
                "deleted after forward recovery — nothing reaps it " +
                "automatically; remove it manually")
          }
          // fall through: the recovered table is live; merge `updates` in
        } else if (fs.exists(p(staged)) || retiredSiblings.nonEmpty) {
          // live absent beside a PARTIAL staging or stranded retired
          // generations is an unrecoverable external state — refuse to
          // bootstrap from one batch over it, and name the state
          throw new IllegalStateException(
            s"mergeInto: live $path is absent/empty but recovery state " +
              s"exists (staging=${fs.exists(p(staged))} complete=false, " +
              s"retired=${retiredSiblings.map(_.getName).mkString(",")}) — " +
              "refusing to bootstrap from the current batch; restore the " +
              "live table or a complete staging manually")
        } else {
          partitionedWrite(updates, partCol, path)
          return
        }
      }
      // live is PRESENT past this point, so any `.retired-m*` sibling —
      // the MERGE fallback's own naming — is the residue of a crash
      // AFTER a prior fallback's publish but BEFORE its retired delete
      // (the narrow window VERDICT r15 #2 names): the published
      // generation superseded it. Reap it here with the same
      // loud-on-failure discipline as the commit-time delete — nothing
      // else ever reclaims it (silent disk leak). [[compactAndSwap]]'s
      // `.retired-<nanos>` generations are deliberately NOT matched:
      // those are returned to the caller for DRAINING (readers may
      // still hold them open) and the caller owns their deletion.
      listRetired(".retired-m").foreach { r =>
        if (!fs.delete(r, true) && fs.exists(r))
          logWarning(s"mergeInto: superseded retired generation $r could " +
            "not be deleted — nothing reaps it automatically; remove it " +
            "manually")
      }
      val totalParts = fs.listStatus(hPath).count(st =>
        st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      val share =
        if (totalParts == 0) 1.0 else touched.length.toDouble / totalParts
      // updates may introduce NEW partitions (share can exceed 1);
      // anti-join on (key, partCol), not key alone: the contract says key
      // identifies a row WITHIN its partition, so when updates touch ≥2
      // partitions a key value repeating across them must only displace
      // the row in ITS OWN partition — a key-only anti-join would silently
      // delete the same-key row in the other touched partition
      if (share > rewriteShare) {
        val merged = spark.read.parquet(path)
          .join(updates.select(col(key), col(partCol)), Seq(key, partCol), "left_anti")
          .unionByName(updates)
        // live is PRESENT here (the adjudication above), so any staging —
        // even a _SUCCESS-complete one — is a superseded orphan from a
        // crash before the retire rename; the caller's retry re-merges the
        // same batch, so deleting it loses nothing
        if (fs.exists(p(staged))) fs.delete(p(staged), true)
        partitionedWrite(merged, partCol, staged)
        require(fs.exists(p(staged + "/_SUCCESS")),
          s"mergeInto: $staged has no _SUCCESS marker after the rewrite")
        // ".retired-m": the m marks a MERGE-owned generation — reaped
        // immediately at commit below, or by the next merge's entry
        // reap after a crash. compactAndSwap's un-marked ".retired-"
        // generations drain under the CALLER's control instead.
        val retired = path + ".retired-m" + System.nanoTime()
        if (!fs.rename(hPath, p(retired)))
          throw new IllegalStateException(s"mergeInto: cannot retire $path")
        if (!fs.rename(p(staged), hPath)) {
          // compactAndSwap's rollback discipline: put the old table back,
          // and if even that fails say the live name is ABSENT with the
          // forward-recovery state named
          if (!fs.rename(p(retired), hPath))
            throw new IllegalStateException(
              s"mergeInto: cannot publish $staged AND cannot roll " +
                s"$retired back — live $path is ABSENT; the complete " +
                s"merged generation is at $staged (old data at $retired)")
          throw new IllegalStateException(s"mergeInto: cannot publish $staged")
        }
        // in-place contract: the surgical path deletes replaced files at
        // commit too, so the retired generation is reaped immediately
        // rather than returned for draining — loudly if the delete fails,
        // since nothing else reaps .retired-* (ADVICE r14)
        if (!fs.delete(p(retired), true) && fs.exists(p(retired)))
          logWarning(s"mergeInto: retired generation $retired could not " +
            "be deleted — nothing reaps it automatically; remove it manually")
        return
      }
      val existing = spark.read.parquet(path)
        .filter(col(partCol).isInCollection(touched.toIndexedSeq))
      val merged = existing
        .join(updates.select(col(key), col(partCol)), Seq(key, partCol), "left_anti")
        .unionByName(updates)
        .repartition(col(partCol))
        .localCheckpoint()
      try {
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).parquet(path)
      } finally merged.unpersist()
      // release even on failure: dynamic partition-overwrite commits
      // atomically per job, so an in-process failure left the table
      // unchanged — only a CRASH (which skips finally) holds the lock
    } finally releaseMaintenanceLock(fs, lock)
  }

  /** Default [[mergeInto]] fallback threshold — see BASELINE
    * "merge crossover" (r14 sweep, 10 M-row / 30-partition events at
    * 100×): surgical merge wins through share 0.50 (1.67 vs 2.33 s),
    * ties at 0.60 (2.74 vs 2.71), loses at 0.67 (2.75 vs 2.46) and
    * 0.73 (2.39 vs 2.18) — the crossover is the tie point.
    */
  val MergeRewriteShare: Double = 0.6

  /** Partition-preserving compaction: rewrite a fragmented
    * date-partitioned table to one file per (task, date) — the
    * maintenance pass an append-heavy ingest needs periodically. Out
    * of place by design: pair with an atomic directory swap (the W5
    * [[graft.sources.jdbc.FileSwap]] discipline) to publish without a
    * reader ever seeing a half-compacted table — [[compactAndSwap]] is
    * that composition.
    */
  def compactPartitioned(spark: SparkSession, path: String,
                         partCol: String, out: String): Unit =
    partitionedWrite(spark.read.parquet(path), partCol, out)

  /** Curated-lake MONEY layout: rewrite DECIMAL money columns as exact
    * int64 CENTS (suffix `_c` — the unit change is visible in the
    * schema) so downstream scans never decode decimal128 and money
    * aggregation runs on primitive longs end to end. The per-value
    * rounding is the same DECIMAL(18,2) cast the relational oracle
    * contract declares, so `v_c = round2(v) × 100` carries the exact
    * declared value — q148 proves the full TPC-H-Q1 aggregate over this
    * layout hash-matches the ORIGINAL table's oracle, including the
    * scale-4 and scale-6 product terms (cents products are exact at
    * those scales: 2dp×2dp=4dp, 4dp×2dp=6dp — no rounding exists to
    * diverge). The engine owns its curated files; r11's q06 A/B showed
    * the residual vs DuckDB at 100× is decimal parquet decode + per-row
    * decimal products, which makes money-as-cents a LAYOUT choice, not
    * a constant (r11 verdict item 4). Overflow discipline: int64 sums
    * of scale-6 products bound group size at ~8×10⁹ rows (9.2×10¹⁸ /
    * 1.1×10⁹ per row at TPC-H magnitudes); ANSI mode — the session
    * default, never overridden — fails the sum loudly past it, and the
    * caller's fallback is a DECIMAL(38,0) sum of the same exact
    * integers.
    *
    * Ordering: `files > 0` round-robins (`repartition(files)`), which
    * DESTROYS any clustering the caller's frame carried — zone maps and
    * blooms over a cents table that must stay clustered need
    * `clusterCols`, which routes through `repartitionByRange` +
    * `sortWithinPartitions` instead (same file-count knob, order kept).
    */
  def centsWrite(df: DataFrame, moneyCols: Seq[String], out: String,
                 files: Int = 0, blockBytes: Long = 0L,
                 clusterCols: Seq[String] = Nil): Unit = {
    val projected = df.select(df.columns.toIndexedSeq.map { c =>
      if (moneyCols.contains(c))
        (col(c).cast(org.apache.spark.sql.types.DecimalType(18, 2)) * lit(100))
          .cast("long").as(c + "_c")
      else col(c)
    }: _*)
    // Layout knobs, r13 floor probe (BASELINE "cents read-floor"): at
    // 100× the read floor is file-count and row-group bound — 64 files
    // × 32 MB row groups read the full Q1 at 0.49 s vs 2.1–2.8 s for a
    // 4-file layout (one row group per file serializes each file onto
    // one task). Defaults keep the input partitioning and parquet's
    // block default: gate-scale writes don't care, curated rewrites at
    // scale should pass explicit values sized executors × cores.
    val arranged =
      if (files > 0 && clusterCols.nonEmpty)
        projected.repartitionByRange(files, clusterCols.map(col): _*)
          .sortWithinPartitions(clusterCols.map(col): _*)
      else if (files > 0) projected.repartition(files)
      else projected
    var w = arranged.write.mode("overwrite")
    if (blockBytes > 0) w = w.option("parquet.block.size", blockBytes.toString)
    w.parquet(out)
  }

  /** Curated TEXT-table layout (r17, VERDICT r16 #3 adopted): the r13
    * cents read-floor discipline — file count and row-group bytes sized
    * to cores, because parquet read parallelism is bounded by ROW
    * GROUPS, not `maxPartitionBytes` — applied to a documents-shaped
    * table. A semantics-free rewrite (round-robin repartition; text
    * scans carry no clustering to preserve), so any text-family query
    * answers identically over the curated files — q160 pins that with
    * the UNMODIFIED q157 oracle. Measured at 100× (BASELINE r17
    * "textlayout"): family total −26%, q157 0.81 → 0.51 s, and DuckDB
    * is faster on the SAME curated files too (0.28 → 0.23) — the win is
    * even-sized cores-matched row groups, not an engine quirk.
    */
  def textWrite(df: DataFrame, out: String, files: Int = 64,
      blockBytes: Long = 32L << 20): Unit =
    df.repartition(files).write.mode("overwrite")
      .option("parquet.block.size", blockBytes.toString).parquet(out)

  /** Compaction PUBLISH: [[compactPartitioned]] composed with the W5
    * swap discipline (reference `core/src/file_swap.rs` analog on a
    * directory): compact out of place into the deterministic staging
    * generation `<path>.staging`, then publish by two renames — live →
    * retired, staging → live. Each rename is atomic on a real
    * filesystem, so a reader never observes a HALF-compacted table;
    * the residual window is the instant BETWEEN the renames, where the
    * live name is briefly absent — a reader that lists exactly then
    * fails fast with path-not-found and retries, it never reads wrong
    * data (a single fully-atomic directory swap needs an indirection —
    * symlink or manifest — this op deliberately doesn't require of the
    * filesystem). The RETIRED generation is returned, not deleted: a
    * reader that planned before the swap holds concrete file paths into
    * it and must be allowed to drain (the same retire+drain+gate
    * sequencing [[graft.sources.jdbc.FileSwap]] documents for DuckDB db
    * files) — the caller reaps it once its readers are gone.
    *
    * Crash discipline: the staging name is DETERMINISTIC, so a rerun
    * after any crash reclaims it across JVM restarts — a generation
    * orphaned mid-write is deleted and rebuilt, never accumulated. A
    * crash BETWEEN the renames (live absent, staging COMPLETE — proven
    * by the committer's `_SUCCESS` marker, never assumed from mere
    * existence) is completed forward by the next call; a live-absent
    * PARTIAL staging is an unrecoverable external state (someone
    * removed the live table beside a half-written orphan) and fails
    * loudly instead of publishing corrupt data forward. A rename
    * failure (not crash) rolls the live name back in-process.
    *
    * The single-maintainer contract is ENFORCED, not assumed: the
    * atomic `<path>.compacting` lock-file create
    * ([[acquireMaintenanceLock]] — SHARED with [[mergeInto]], so merge
    * and compaction serialize too) rejects a second concurrent
    * maintainer (two writers into one deterministic staging name could
    * otherwise publish a half-written generation). A crash leaves the
    * lock behind by design — the next call fails with instructions
    * rather than racing a possibly-live writer; the operator removes
    * the lock after confirming no maintenance op is running.
    */
  def compactAndSwap(spark: SparkSession, path: String,
                     partCol: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val staged = path + ".staging"
    val lock = acquireMaintenanceLock(fs, path)
    try {
      def stagedComplete = fs.exists(p(staged + "/_SUCCESS"))
      if (!fs.exists(p(path)) && fs.exists(p(staged))) {
        // crash recovery: a prior call died between its renames — the
        // staged generation is the complete newest table; publish it
        if (!stagedComplete) throw new IllegalStateException(
          s"compactAndSwap: live $path is absent and $staged has no " +
            "_SUCCESS marker — refusing to publish a partial generation; " +
            "restore the live table or a complete staging manually")
        if (!fs.rename(p(staged), p(path)))
          throw new IllegalStateException(
            s"compactAndSwap: cannot complete crashed publish of $staged")
      } else if (fs.exists(p(staged))) {
        fs.delete(p(staged), true) // orphan from a crash mid-write
      }
      compactPartitioned(spark, path, partCol, staged)
      require(stagedComplete,
        s"compactAndSwap: $staged has no _SUCCESS marker after the write")
      val retired = path + ".retired-" + System.nanoTime()
      if (!fs.rename(p(path), p(retired)))
        throw new IllegalStateException(s"compactAndSwap: cannot retire $path")
      if (!fs.rename(p(staged), p(path))) {
        // roll back so the old table stays live — and CHECK the rename:
        // if the rollback itself fails the live name is ABSENT, and the
        // thrown message must say so (ADVICE r12) instead of claiming a
        // live table exists; the complete staging (_SUCCESS-proven) at
        // `staged` means the next call's forward-recovery path publishes
        // it — rerun to recover, exactly as after a between-renames crash
        if (!fs.rename(p(retired), p(path)))
          throw new IllegalStateException(
            s"compactAndSwap: cannot publish $staged AND cannot roll " +
              s"$retired back — live $path is ABSENT; a complete staged " +
              s"generation exists at $staged: rerun compactAndSwap for " +
              "forward recovery (the old generation remains at " +
              s"$retired)")
        throw new IllegalStateException(s"compactAndSwap: cannot publish $staged")
      }
      releaseMaintenanceLock(fs, lock)
      retired
    } catch { case e: Throwable =>
      // release ONLY on failure paths that provably did not publish a
      // half state: the lock survives a crash by design (see Scaladoc),
      // but an in-process exception has fully rolled back (or, on the
      // double-rename failure above, left a forward-recoverable state
      // whose recovery the NEXT call performs under its own lock) —
      // holding the lock would just block that retry; release through the
      // same loud path as success so a failed delete is logged here too
      releaseMaintenanceLock(fs, lock)
      throw e
    }
  }

  // ---- gate -------------------------------------------------------------

  /** Per-process gate scratch dir: the pid suffix keeps concurrent JVMs
    * (a Verify run beside a SPARK_GRAFT_ONLY bench re-measure) from
    * racing each other's overwrite-then-read cycles on a shared path;
    * within one process, reruns of a gate overwrite their own dir, so
    * growth is bounded at one table per gate, and a shutdown hook
    * reclaims the whole pid root so repeated runs don't accumulate.
    */
  private lazy val gateRoot: String = {
    val root = "/tmp/graft_layout_p" + ProcessHandle.current().pid()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }))
    root
  }

  private def gateDir(dir: String, name: String): String =
    gateRoot + "/" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "/" + name

  /** q142: the z-key itself, oracle-matched bit-for-bit — DuckDB
    * reproduces the interleave with 16 shift-mask terms per column
    * ([[ZOrder.sql]]), so the cross-engine contract covers the exact
    * key every clustered write orders by. Raw TPC-H keys at gate scale
    * sit under 2^16, so they interleave unscaled (the rankScale path is
    * ZOrderSpec's, where min/max normalization is asserted
    * order-preserving).
    */
  def queries: Seq[Q] = Seq(
    Q("q142_zorder_key",
      "SELECT p_partkey, p_size, " +
        ZOrder.sql("p_partkey", "p_size") + " AS zkey, " +
        ZOrder.sql("p_partkey", "p_size", "length(p_name)") + " AS zkey3 " +
        "FROM part ORDER BY zkey, p_partkey LIMIT 200") { (s, dir) =>
      val p = Tables.load(s, dir, "part")
      p.select(col("p_partkey"), col("p_size"),
          ZOrder.zorder(col("p_partkey"), col("p_size")).as("zkey"),
          ZOrder.zorder(col("p_partkey"), col("p_size"),
            length(col("p_name"))).as("zkey3"))
        .orderBy(col("zkey"), col("p_partkey"))
        .limit(200)
    },
    /* q143: the full clustered-write → zone-map → pruned-read cycle,
     * oracle-matched end to end. The Spark side REWRITES lineitem
     * z-clustered on (l_partkey, l_suppkey), then answers a
     * second-dimension range probe through [[prunedRead]] — reading
     * only zone-map candidate files — while DuckDB answers the same
     * predicate over the ORIGINAL table. A hash match proves layout
     * and pruning never change content (the false-positive-only zone
     * guarantee, verified cross-engine). Money sums route through
     * DECIMAL(18,2) per the exactness contract. */
    Q("q143_pruned_scan",
      "SELECT l_suppkey, count(*) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_suppkey BETWEEN 3 AND 7 " +
        "GROUP BY l_suppkey ORDER BY l_suppkey") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val out = gateDir(dir, "lineitem_z")
      clusterWrite(li, Seq("l_partkey", "l_suppkey"), out, 16)
      prunedRead(s, out, "l_suppkey", 3L, 7L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy(col("l_suppkey"))
    },
    /* q146: the rectangle probe — a conjunctive 2-D range over BOTH
     * clustered dimensions answered through [[prunedReadRect]] (the
     * intersection of the two zone maps' candidate sets), DuckDB
     * answering the same WHERE over the original table. This is the
     * query shape the interleaved key exists for: either dimension
     * alone admits a band of files, the rectangle touches only their
     * intersection. */
    Q("q146_rect_scan",
      "SELECT l_partkey, l_suppkey, count(*) AS n, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM lineitem WHERE l_partkey BETWEEN 100 AND 400 " +
        "AND l_suppkey BETWEEN 2 AND 6 " +
        "GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey") { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
      val out = gateDir(dir, "lineitem_z_rect")
      clusterWrite(li, Seq("l_partkey", "l_suppkey"), out, 16)
      prunedReadRect(s, out,
        Seq(("l_partkey", 100L, 400L), ("l_suppkey", 2L, 6L)))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy(col("l_partkey"), col("l_suppkey"))
    },
    /* q144: date-partitioned write → directory-pruned read, oracle-
     * matched. Spark rewrites events partitioned by event_date and
     * answers a 3-day range through Spark's partition pruning (the
     * filter never touches a file outside the three date directories —
     * ZOrderSpec pins that on inputFiles); DuckDB answers the same
     * predicate over the original table. The ts column rides the
     * shared nanos-tolerant path (CLAUDE.md events rule). */
    Q("q144_partition_prune",
      "SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events WHERE CAST(ts AS DATE) " +
        "BETWEEN DATE '2024-01-10' AND DATE '2024-01-12' " +
        "GROUP BY event_type ORDER BY event_type") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val day = to_date(timestamp_micros(Tables.epochMicros(ev)))
      val out = gateDir(dir, "events_bydate")
      partitionedWrite(
        ev.select(col("event_type"), col("value"), day.as("event_date")),
        "event_date", out)
      s.read.parquet(out)
        .filter(col("event_date").between(
          to_date(lit("2024-01-10")), to_date(lit("2024-01-12"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
    },
    /* q145: partition-scoped MERGE, oracle-matched against a full
     * recompute. Spark builds the date-partitioned events table, then
     * merges an update set touching two days — replacements keyed by
     * event_id plus inserted backfill rows — rewriting ONLY those two
     * directories ([[mergeInto]]; ZOrderSpec pins untouched dirs
     * byte-identical). DuckDB computes the same post-merge table
     * directly from events with set arithmetic. A hash match proves
     * the upsert semantics (replace-by-key, insert-new, leave-rest)
     * end to end. */
    Q("q145_partition_merge",
      "SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value FROM (" +
        "SELECT event_type, value FROM events WHERE CAST(ts AS DATE) " +
        "NOT BETWEEN DATE '2024-01-10' AND DATE '2024-01-11' " +
        "UNION ALL SELECT 'adjusted', value + 100 FROM events " +
        "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-11' " +
        "UNION ALL SELECT 'backfill', value FROM events " +
        "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-11'" +
        ") GROUP BY event_type ORDER BY event_type") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val day = to_date(timestamp_micros(Tables.epochMicros(ev)))
      val out = gateDir(dir, "events_merge")
      val base = ev.select(col("event_id"), col("event_type"),
        col("value"), day.as("event_date"))
      partitionedWrite(base, "event_date", out)
      val touched = base.filter(col("event_date").between(
        to_date(lit("2024-01-10")), to_date(lit("2024-01-11"))))
      val updates = touched.select(col("event_id"),
          lit("adjusted").as("event_type"),
          (col("value") + lit(100.0)).as("value"), col("event_date"))
        .unionByName(touched.select(
          (col("event_id") + lit(10000000L)).as("event_id"),
          lit("backfill").as("event_type"), col("value"), col("event_date")))
      mergeInto(s, out, updates, "event_date", "event_id")
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
    },
    /* q147: the lake-maintenance loop closed (r11 verdict item 5) —
     * fragment a date-partitioned events table with three appends (the
     * append-heavy-ingest shape), [[compactAndSwap]] it, and answer the
     * aggregate from the PUBLISHED generation; DuckDB answers the same
     * aggregate over the original table. A hash match proves compaction
     * + swap never change content; the in-gate requires prove the
     * mechanics (per-date file count actually fragmented, then
     * collapsed to 1; the retired generation intact for draining
     * readers) so a silent no-op compaction fails loudly instead of
     * riding a trivially-true content check. */
    Q("q147_compact_swap",
      "SELECT event_type, count(*) AS n, " +
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
        "FROM events GROUP BY event_type ORDER BY event_type") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val day = to_date(timestamp_micros(Tables.epochMicros(ev)))
      val out = gateDir(dir, "events_compact")
      // rerun-safety: reap THIS gate's prior generations only (live +
      // retired-* + staging-*) — never the sibling gates' scratch that
      // shares the per-dir parent
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.globStatus(new org.apache.hadoop.fs.Path(out + "*")) match {
        case null => ()
        case gens => gens.foreach(g => fs.delete(g.getPath, true))
      }
      val base = ev.select(col("event_id"), col("event_type"),
        col("value"), day.as("event_date"))
      // three appends of disjoint thirds = the fragmented ingest state
      for (r <- 0 until 3)
        base.filter(pmod(col("event_id"), lit(3)) === r)
          .repartition(col("event_date"))
          .write.mode("append").partitionBy("event_date").parquet(out)
      def perDateFiles(path: String): Map[String, Int] =
        s.read.parquet(path).inputFiles.toSeq
          .groupBy(_.split('/').takeRight(2).head).map { case (d, fs0) => d -> fs0.size }
      val fragmented = perDateFiles(out)
      require(fragmented.values.max >= 2,
        s"q147 setup did not fragment: $fragmented")
      val retired = compactAndSwap(s, out, "event_date")
      val compacted = perDateFiles(out)
      require(compacted.values.forall(_ == 1),
        s"compaction left fragments: $compacted")
      require(perDateFiles(retired) == fragmented,
        "retired generation not intact for draining readers")
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy(col("event_type"))
    },
    /* q148: the CENTS curated layout reproduces the canonical TPC-H-Q1
     * semantics exactly — Spark rewrites lineitem with money as int64
     * cents ([[centsWrite]]) and answers Q1 with PURE int64 sums (the
     * scale-4 disc-price and scale-6 charge products are exact integers
     * in cents arithmetic; each output converts through one exact
     * decimal division then a single double rounding — q06's pattern,
     * now with no decimal anywhere in the per-row path), while DuckDB
     * answers the UNMODIFIED q06 oracle over the ORIGINAL table. A hash
     * match proves the layout carries the declared decimal semantics
     * bit-for-bit, which is what licenses running the 100× flagship
     * over the curated files (BENCH100, r11 verdict item 4). */
    Q("q148_cents_layout",
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")) { (s, dir) =>
      val out = gateDir(dir, "lineitem_cents")
      centsWrite(
        Tables.load(s, dir, "lineitem").select("l_returnflag", "l_linestatus",
          "l_shipdate", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), out)
      // exact integer → one decimal division → one double rounding, per
      // sum; unit is 10^-scale of the cents product
      def money(sum6: Column, scale: Int): Column =
        (sum6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
          lit(math.pow(10, scale).toLong)).cast("double")
      val disc4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
      val charge6 = disc4 * (lit(100L) + col("l_tax_c"))
      s.read.parquet(out)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          money(sum(col("l_quantity_c")), 2).as("sum_qty"),
          money(sum(col("l_extendedprice_c")), 2).as("sum_base_price"),
          money(sum(disc4), 4).as("sum_disc_price"),
          money(sum(charge6), 6).as("sum_charge"),
          (money(sum(col("l_quantity_c")), 2) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    /* q160: the TEXT curated layout (r17): Spark rewrites documents at
     * the cores-matched files × row-group layout ([[textWrite]]) and
     * answers the UNMODIFIED q157 BM25 gate over the curated files,
     * while DuckDB answers the original oracle over the ORIGINAL table
     * — the q148 discipline for the text family. The hash match proves
     * the rewrite is semantics-free, which is what licenses running the
     * 100× text family over curated files (BASELINE r17 "textlayout":
     * −26% family, both engines faster on the same files). */
    Q("q160_text_layout", TextAnalysis.bm25OracleSql) { (s, dir) =>
      val out = gateDir(dir, "documents_text")
      textWrite(Tables.load(s, dir, "documents"), out)
      TextAnalysis.bm25TopK(s.read.parquet(out))
    },
    /* q152: the CENTS layout under a broadcast STAR — TPC-H Q17 over a
     * curated cents lineitem vs the unmodified declared-DECIMAL oracle
     * on the ORIGINAL table (q148's discipline extended to a join
     * query; r13 verdict item 4 promotes the BENCH100 probe variant,
     * 1×-signature-asserted there, to a driver-oracled gate). The
     * threshold compare is pure int64 — `quantity_c·5·cnt < sq_c` is
     * the declared decimal compare with BOTH sides scaled by 100, so
     * row selection is exact; the money output is one exact decimal
     * division then a single double rounding, identical to summing the
     * declared DECIMAL(18,2) and casting. Plan shape mirrors the
     * committed q102: part and the part-bounded stats frame broadcast,
     * the fact never shuffles. */
    Q("q152_cents_tpch_q17",
      "SELECT p_brand, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price, " +
        "COUNT(*) AS n " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "JOIN (SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY 1) s ON pk = l_partkey " +
        "WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt < sq " +
        "GROUP BY p_brand ORDER BY p_brand") { (s, dir) =>
      val out = gateDir(dir, "lineitem_cents_q17")
      centsWrite(
        Tables.load(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice"),
        Seq("l_quantity", "l_extendedprice"), out)
      // no cache: the r14 starprof A/B — rescanning the column-pruned
      // cents projection beats building the columnar cache at every
      // scale measured (see q102's Scaladoc)
      val l = s.read.parquet(out)
      val stats = l.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity_c")).as("sq"), count(lit(1)).as("cnt"))
      l.join(broadcast(Tables.load(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(stats), col("pk") === col("l_partkey"))
        .filter(col("l_quantity_c") * 5 * col("cnt") < col("sq"))
        .groupBy("p_brand")
        .agg(centsMoney(sum(col("l_extendedprice_c")), 2).as("total_price"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    },
    /* q153: the CENTS layout under the 8-table all-broadcast star —
     * TPC-H Q8 over a curated cents lineitem vs the declared-DECIMAL
     * oracle on the original tables (r13 verdict item 4, second row).
     * vol rides as the exact scale-4 cents product
     * `extprice_c·(100−disc_c)`; numerator and denominator each take
     * ONE decimal division + ONE double rounding — exactly the values
     * the DECIMAL(18,4) sums cast to double produce — and their IEEE
     * division is the same single FP step as the committed q109. The
     * plan mirrors q109's r13 all-broadcast star: orders semi-reduced
     * through the customer/region gate BEFORE touching the cents
     * fact. */
    Q("q153_cents_tpch_q8",
      "SELECT o_year, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
        "CAST(SUM(vol) AS DOUBLE) AS mkt_share FROM (" +
        "SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS vol, " +
        "n2.n_name AS supp_nation " +
        "FROM part JOIN lineitem ON p_partkey = l_partkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t " +
        "GROUP BY o_year ORDER BY o_year") { (s, dir) =>
      val out = gateDir(dir, "lineitem_cents_q8")
      centsWrite(
        Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey",
          "l_suppkey", "l_extendedprice", "l_discount"),
        Seq("l_extendedprice", "l_discount"), out)
      val vol4 = col("l_extendedprice_c") * (lit(100L) - col("l_discount_c"))
      val custNation = Tables.load(s, dir, "nation")
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val suppNation = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
      val eurCust = Tables.load(s, dir, "customer")
        .join(broadcast(custNation), col("c_nationkey") === col("cnk"))
        .select("c_custkey")
      val o2 = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .join(broadcast(eurCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_orderdate")
      s.read.parquet(out)
        .join(broadcast(Tables.load(s, dir, "part")
          .filter(col("p_type") === "ECONOMY")),
          col("p_partkey") === col("l_partkey"))
        .join(o2, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.load(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(suppNation), col("s_nationkey") === col("snk"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(centsMoney(sum(when(col("supp_nation") === "NATION_3", vol4)
            .otherwise(lit(0L))), 4).as("num"),
          centsMoney(sum(vol4), 4).as("den"))
        .select(col("o_year"), (col("num") / col("den")).as("mkt_share"))
        .orderBy("o_year")
    }
  )

  /** Exact cents→money finish shared by the cents gates: int64 cents
    * sum → ONE exact DECIMAL(38,0) division by 10^scale → ONE double
    * rounding — the same value the declared DECIMAL sum's double cast
    * produces (q148's discipline).
    */
  private def centsMoney(sum6: Column, scale: Int): Column =
    (sum6.cast(org.apache.spark.sql.types.DecimalType(38, 0)) /
      lit(math.pow(10, scale).toLong)).cast("double")
}
