package graft.sources

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup indexes — the 100 TB operating mode's storage
  * half. The incremental dedup operators
  * ([[graft.operators.Dedup.incrementalNearDupPairs]] and siblings)
  * probe a base corpus's band-bucket index; at scale that index is
  * built ONCE per corpus version (the sf100 rehearsal sized minhash's
  * at ~26 GB for 5M docs — PERF.md §1000x) and every subsequent ingest
  * READS it. This object is that contract made literal: each `write*`
  * persists the index relations as parquet tables bucketed by their
  * probe key via [[Bucketing]], and each `probe*` re-derives the exact
  * incremental-operator output from `spark.table(...)` scans — same
  * answer (the oracle doesn't move), different lineage (storage, not
  * recomputation).
  *
  * Plan posture: the probe joins carry a merge hint on the stored
  * side, so the index subtree plans as a bucketed SortMergeJoin leg
  * with NO Exchange and NO Sort under it (DedupIndexStoreSpec pins
  * this) — per ingest, only the (small) batch side shuffles, into the
  * index's bucket layout. At 100 TB that is the difference between
  * re-shuffling a corpus-sized relation per ingest and moving only the
  * delta.
  *
  * Build-once registry: file-backed bases are keyed by their sorted
  * `inputFiles` + canonicalized plan + parameters, so one JVM builds
  * each (corpus, params) index exactly once however many queries probe
  * it (the bench's warm-up run pays the build; timed runs probe
  * storage — exactly the deployment cost model). In-memory bases
  * (spec fixtures) have no file identity and build uncached under a
  * unique name. */
object DedupIndexStore {

  final case class ExactIndex(table: String)
  final case class MinhashIndex(bucketsTable: String, setsTable: String,
      n: Int, numHashes: Int, bands: Int)
  final case class SimhashIndex(table: String)
  final case class EmbeddingIndex(bucketsTable: String, vecsTable: String)

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  /** [[Bucketing.writeBucketed]] lays each bucket out as exactly ONE
    * sorted file, which makes the stored sort order trustworthy at
    * read time — but since Spark 3.0 the scan only *reports* that
    * order when `spark.sql.legacy.bucketedTableScanOutputOrdering` is
    * on (off by default because the one-file-per-bucket check costs a
    * driver-side listing, not because it is unsafe: with the flag on,
    * Spark still verifies the single-file condition before trusting
    * the order). Probes flip it on for their session so the index leg
    * of the SortMergeJoin drops its per-probe Sort — at corpus scale
    * that sort would be the dominant per-ingest cost. */
  private[sources] def enableBucketedSortOrder(spark: SparkSession): Unit =
    spark.conf
      .set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

  /** Data identity of a base relation: its files + filter plan. None
    * unless the plan is ENTIRELY file-backed — a LocalRelation or
    * LogicalRDD anywhere in it (e.g. a spec fixture unioned onto a
    * parquet table) carries data the canonical plan does not print,
    * so two same-shape plans over different in-memory rows would
    * collide (the replay-cache lesson). Those build uncached. */
  private[sources] def identityKey(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.analyzed
    val inMemory = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    val files = df.inputFiles
    if (inMemory || files.isEmpty) None
    else Some(files.sorted.mkString(",") + "|" +
      plan.canonicalized.toString)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(12)

  /** Directories this JVM wrote index tables into — swept at exit
    * (harness indexes are rebuildable; a deployment stores its index
    * next to the corpus and would not route through /tmp). */
  private val createdDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdDirs.forEach { d =>
        try {
          import scala.jdk.CollectionConverters._
          val ws = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
          val paths = try ws.iterator().asScala.toVector finally ws.close()
          paths.sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
  }

  /** Build-or-reuse one bucketed index table (shared by every stored-
    * index family — [[PostingsStore]] names its tables through here
    * too). `build` is by-name: a registry hit never constructs the
    * relation at all. */
  private[sources] def table(family: String, key: Option[String],
      params: String,
      keys: Seq[String], buckets: Int)(build: => DataFrame): String = {
    def write(name: String): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-idx-$name").toString
      createdDirs.add(dir)
      Bucketing.writeBucketed(build, name, dir, keys, buckets)
      name
    }
    key match {
      case Some(k) =>
        val name = s"graft_idx_${family}_${md5(k + "|" + params)}"
        // the registry is JVM-wide but a table lives in one catalog: a
        // hit whose table the active catalog lacks (a new SparkContext,
        // a DROP TABLE) rebuilds instead of naming a missing table
        val catalog = SparkSession.active.catalog
        built.compute(name, (_, prev) =>
          if (prev != null && catalog.tableExists(prev)) prev
          else write(name))
      case None => write(s"graft_idx_${family}_tmp${seq.incrementAndGet()}")
    }
  }

  /** Persist the base corpus's distinct-fingerprint index
    * ([[Dedup.exactFpIndex]]) bucketed by fp_md5 — exact dedup's
    * probe key. */
  def writeExactIndex(base: DataFrame, buckets: Int = 8): ExactIndex = {
    val key = identityKey(base)
    ExactIndex(table("fp_idx", key, s"ex|$buckets", Seq("fp_md5"),
      buckets)(Dedup.exactFpIndex(base)))
  }

  /** Probe a stored fingerprint index — output identical to
    * [[Dedup.incrementalExact]] over the same base. The anti-join's
    * stored leg reads with no Exchange/Sort; only the batch
    * fingerprints shuffle, into the index's bucket layout. */
  def probeExact(spark: SparkSession, idx: ExactIndex,
      batch: DataFrame): DataFrame = {
    enableBucketedSortOrder(spark)
    Dedup.exactProbe(spark.table(idx.table).hint("merge"), batch)
  }

  /** Persist the base corpus's minhash band index
    * ([[Dedup.minhashBandIndex]], bucketed by its (band, bucket) probe
    * key) plus its shingle sets (bucketed by doc_id — the exact-verify
    * side). */
  def writeMinhashIndex(base: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 10000,
      buckets: Int = 8): MinhashIndex = {
    val key = identityKey(base)
    val params = s"mh|$n|$numHashes|$bands|$maxBucket|$buckets"
    MinhashIndex(
      table("mh_buckets", key, params, Seq("band", "bucket"), buckets)(
        Dedup.minhashBandIndex(base, n, numHashes, bands, maxBucket)),
      table("mh_sets", key, params, Seq("doc_id"), buckets)(
        Dedup.shingleSets(base, n)),
      n, numHashes, bands)
  }

  /** Probe a stored minhash index with a new batch — output identical
    * to [[Dedup.incrementalNearDupPairs]] over the same base. The
    * merge hint pins the bucketed-leg SortMergeJoin (at corpus scale
    * the index side must never broadcast OR shuffle; only the batch
    * bands exchange, into the index's bucket layout). */
  def probeMinhash(spark: SparkSession, idx: MinhashIndex,
      batch: DataFrame, threshold: Double = 0.8): DataFrame = {
    enableBucketedSortOrder(spark)
    Dedup.minhashProbe(
      spark.table(idx.bucketsTable).hint("merge"),
      spark.table(idx.setsTable),
      batch, idx.n, threshold, idx.numHashes, idx.bands)
  }

  /** Persist the base corpus's simhash band index
    * ([[Dedup.simhashBandIndex]]) bucketed by its (band, key) probe
    * key; the 60-bit fingerprints ride inside the member structs, so
    * the Hamming verify needs no second table. */
  def writeSimhashIndex(base: DataFrame, maxBucket: Int = 65535,
      buckets: Int = 8): SimhashIndex = {
    val key = identityKey(base)
    val params = s"sh|$maxBucket|$buckets"
    SimhashIndex(
      table("sh_idx", key, params, Seq("band", "key"), buckets)(
        Dedup.simhashBandIndex(base, maxBucket)))
  }

  /** Probe a stored simhash index — output identical to
    * [[Dedup.incrementalSimhashPairs]] over the same base. */
  def probeSimhash(spark: SparkSession, idx: SimhashIndex,
      batch: DataFrame, maxHamming: Int = 3): DataFrame = {
    enableBucketedSortOrder(spark)
    Dedup.simhashProbe(Dedup.simhashBatchBanded(batch),
        spark.table(idx.table).hint("merge"), maxHamming)
      .distinct()
      .orderBy("doc_batch", "doc_base")
  }

  /** Persist the base corpus's SRP band index
    * ([[Dedup.embeddingBandIndex]], bucketed by its (t, bucket) probe
    * key) plus its raw vectors (bucketed by vec_id — the exact-cosine
    * verify side). The SAME resolved plane tables must be passed to
    * [[probeEmbedding]] (a deployment persists them with the index;
    * the plane digest is part of the registry key). */
  def writeEmbeddingIndex(base: DataFrame,
      tables: Seq[Seq[Seq[Double]]], maxBucket: Int = 10000,
      buckets: Int = 8): EmbeddingIndex = {
    val key = identityKey(base)
    val params = s"emb|$maxBucket|$buckets|planes:${md5(tables.toString)}"
    EmbeddingIndex(
      table("emb_buckets", key, params, Seq("t", "bucket"), buckets)(
        Dedup.embeddingBandIndex(base, tables, maxBucket)),
      table("emb_vecs", key, params, Seq("vec_id"), buckets)(
        Dedup.embeddingVecs(base)))
  }

  /** Fold an ACCEPTED ingest batch into a stored fingerprint index —
    * the maintenance half of the index lifecycle (build once → probe
    * per ingest → REFRESH per accepted ingest → probe the next batch
    * against the refreshed version). Refresh merges id-level
    * relations: the base corpus text is never re-read or re-hashed
    * (only the new batch fingerprints), which at 100 TB is the
    * difference between an O(index)-shuffle refresh and an O(corpus)
    * rebuild. Writes a NEW versioned table — the old version stays
    * readable until swept, so a reader never sees a half-written
    * index. Probing the refreshed index equals probing a from-scratch
    * index over (base ∪ accepted) — spec-pinned. */
  def refreshExactIndex(spark: SparkSession, idx: ExactIndex,
      accepted: DataFrame, buckets: Int = 8): ExactIndex = {
    val key = identityKey(accepted).map(k => s"refresh|${idx.table}|$k")
    ExactIndex(table("fp_idx_r", key, s"ex|$buckets", Seq("fp_md5"),
      buckets)(
      spark.table(idx.table)
        .unionByName(Dedup.exactFpIndex(accepted))
        .distinct()))
  }

  // ---- segment-list lifecycle for the exact face (the PostingsStore
  // SegmentedPostings model; the one banded-free dedup index, so the
  // segment union has NO cap semantics to reconcile — the minhash/
  // simhash/embedding band indexes keep id-merge + compact because
  // their per-bucket caps are a GLOBAL property a per-segment build
  // cannot reproduce) ------------------------------------------------

  /** A stored fingerprint index as a SEGMENT LIST: each segment is one
    * ingest batch's distinct-fp table. An ingest appends a segment
    * hashed from the batch alone — O(batch), the base table never read
    * or rewritten — and the probe anti-joins the segment UNION, which
    * needs no regroup at all: a fingerprint present in several
    * segments anti-joins identically to one present once. */
  final case class SegmentedExact(segments: Seq[ExactIndex])

  /** The base build: one segment from the initial corpus. */
  def writeExactSegmented(base: DataFrame,
      buckets: Int = 8): SegmentedExact =
    SegmentedExact(Seq(writeExactIndex(base, buckets)))

  /** O(batch) maintenance: hash ONLY the accepted batch into a new
    * segment (same registry independence as
    * [[graft.sources.PostingsStore.appendSegment]]). */
  def appendExactSegment(idx: SegmentedExact, accepted: DataFrame,
      buckets: Int = 8): SegmentedExact =
    SegmentedExact(idx.segments :+ writeExactIndex(accepted, buckets))

  /** Probe a segment list — output identical to [[probeExact]] against
    * the equivalent merged index (anti-join ignores cross-segment
    * duplicates). Multi-segment lists read through [[segmentScan]]
    * (one multi-path scan, no Union node): the Spark 4.1
    * union-partitioning claim would otherwise let the anti-join trust
    * the segments' common bucketing while the columnar union path
    * concatenates partitions — silently MISSING base fingerprints,
    * i.e. duplicate docs would pass the gate (and when
    * shuffle.partitions == bucket count the r12 repartition fence
    * itself gets elided, see segmentScan's doc). Single segment keeps
    * the Exchange-free bucket layout. */
  def probeExactSeg(spark: SparkSession, idx: SegmentedExact,
      batch: DataFrame): DataFrame = {
    enableBucketedSortOrder(spark)
    Dedup.exactProbe(
      segmentScan(spark, idx.segments.map(_.table)).hint("merge"), batch)
  }

  /** Segment-count ceiling the maintenance loops check after every
    * append (PERF.md §"Compaction trigger policy", StoredIndexRehearsal
    * `seg_probe_n{1,2,4,8,16}`, post-hazard-fix ladders at three
    * decades). The measured probe-cost knee belongs to POSTINGS —
    * the one family whose probes pay one bucket-pruned catalog scan
    * per segment per slot: flat floor through 4 segments, slope at
    * 8, ~3x the floor at 16, identical at 1x/10x/100x. The families
    * that read their list through [[segmentScan]] (exact
    * fingerprints and the banded three) amortize all segments into
    * one multi-path scan and measure FLAT in segment count — for
    * them this ceiling is maintenance hygiene (it bounds stored
    * bucket-row amplification and the cap-recovery aggregation's
    * input), with [[segProbeReadAmpBp]] + [[compactMinhashIfAmplified]] as
    * the precise instrument. The ANN family amortizes segments
    * against a rerank-join floor and keeps a higher ceiling
    * ([[AnnIndexStore.DefaultMaxSegments]]). */
  val DefaultMaxSegments = 4

  /** The LSM trigger — WHEN to run the third verb: compact once the
    * list exceeds `maxSegments`, otherwise return it untouched (no
    * new tables, no reads). Maintenance loops call this after each
    * append; probing the result is identical either way
    * (spec-pinned), only the read amplification changes. */
  def compactExactIfOver(spark: SparkSession, idx: SegmentedExact,
      maxSegments: Int = DefaultMaxSegments,
      buckets: Int = 8): SegmentedExact =
    if (idx.segments.size <= maxSegments) idx
    else SegmentedExact(Seq(compactExactSegments(spark, idx, buckets)))

  /** Compact a segment list back to ONE distinct-fp table — identical
    * content to [[refreshExactIndex]]'s merge over the same batches
    * (spec-pinned table-for-table). Reads through [[segmentScan]] so
    * the distinct's regroup exchange is always real — a Union here
    * could claim the segments' common bucketing and leave per-segment
    * groups, i.e. duplicate fingerprints in the compacted table. */
  def compactExactSegments(spark: SparkSession, idx: SegmentedExact,
      buckets: Int = 8): ExactIndex = {
    if (idx.segments.size == 1) return idx.segments.head
    val key = Some(s"compact|${idx.segments.map(_.table).mkString(",")}")
    ExactIndex(table("fp_idx_c", key, s"ex|$buckets", Seq("fp_md5"),
      buckets)(
      segmentScan(spark, idx.segments.map(_.table)).distinct()))
  }

  /** [[refreshExactIndex]] for the minhash index: the stored
    * (band, bucket → id-list) groups explode back to rows, union the
    * accepted batch's band rows (the only shingling work — the base
    * is never re-tokenized), regroup, and rewrite as the next
    * version; the shingle-set table appends the batch's sets.
    *
    * Cap caveat (the one divergence from a from-scratch rebuild,
    * which only exists in the CAPPED regime): a bucket dropped at an
    * earlier build because it exceeded `maxBucket` cannot resurrect
    * its old members — it re-enters with new members only, where a
    * rebuild would re-drop it entirely. Uncapped (no bucket near the
    * limit — the common case at sane banding), refresh == rebuild
    * exactly; DedupIndexStoreSpec pins probe-level equality there.
    * Deployments in the capped regime compact with a periodic full
    * build, the usual LSM discipline. */
  def refreshMinhashIndex(spark: SparkSession, idx: MinhashIndex,
      accepted: DataFrame, maxBucket: Int = 10000,
      buckets: Int = 8): MinhashIndex = {
    val key = identityKey(accepted)
      .map(k => s"refresh|${idx.bucketsTable}|$k")
    val params = s"mh|$maxBucket|$buckets"
    MinhashIndex(
      table("mh_buckets_r", key, params, Seq("band", "bucket"), buckets)(
        spark.table(idx.bucketsTable)
          .select(col("band"), col("bucket"),
            explode(col("base_ds")).as("doc_id"))
          .unionByName(Dedup.bandBuckets(
            Dedup.minhashSignatures(
              Dedup.shingleSets(accepted, idx.n), idx.numHashes),
            idx.numHashes, idx.bands))
          .groupBy("band", "bucket")
          .agg(collect_list("doc_id").as("base_ds"))
          .filter(size(col("base_ds")) <= maxBucket)),
      table("mh_sets_r", key, params, Seq("doc_id"), buckets)(
        spark.table(idx.setsTable)
          .unionByName(Dedup.shingleSets(accepted, idx.n))),
      idx.n, idx.numHashes, idx.bands)
  }

  /** Compact a (possibly much-refreshed) minhash index: rebuild the
    * band-bucket table from the stored SHINGLE-SET table — the corpus
    * text is still never read. This is the answer to the refresh cap
    * caveat: a refresh cannot resurrect a bucket dropped over
    * `maxBucket` at an earlier build, but the sets table carries the
    * full per-doc shingle sets, so a compaction reproduces exactly
    * what a from-scratch build over the grown corpus would emit
    * (spec-pinned with a binding cap). The LSM discipline in one
    * O(index) pass: refresh per ingest, compact on a period. */
  def compactMinhashIndex(spark: SparkSession, idx: MinhashIndex,
      maxBucket: Int = 10000, buckets: Int = 8): MinhashIndex = {
    val key = Some(s"compact|${idx.bucketsTable}|${idx.setsTable}")
    val params = s"mh|$maxBucket|$buckets"
    MinhashIndex(
      table("mh_buckets_c", key, params, Seq("band", "bucket"), buckets)(
        Dedup.bandBuckets(
            Dedup.minhashSignatures(spark.table(idx.setsTable),
              idx.numHashes), idx.numHashes, idx.bands)
          .groupBy("band", "bucket")
          .agg(collect_list("doc_id").as("base_ds"))
          .filter(size(col("base_ds")) <= maxBucket)),
      idx.setsTable, idx.n, idx.numHashes, idx.bands)
  }

  /** [[refreshMinhashIndex]] for the simhash index (same id-level
    * merge shape; the member structs carry the 60-bit fingerprints,
    * so only the accepted batch is fingerprinted). Same cap caveat. */
  def refreshSimhashIndex(spark: SparkSession, idx: SimhashIndex,
      accepted: DataFrame, maxBucket: Int = 65535,
      buckets: Int = 8): SimhashIndex = {
    val key = identityKey(accepted).map(k => s"refresh|${idx.table}|$k")
    SimhashIndex(
      table("sh_idx_r", key, s"sh|$maxBucket|$buckets",
        Seq("band", "key"), buckets)(
        spark.table(idx.table)
          .select(col("band"), col("key"), explode(col("ds")).as("e"))
          .select(col("e.doc_base").as("doc_base"),
            col("e.sh_base").as("sh_base"), col("band"), col("key"))
          .unionByName(Dedup.simhashBatchBanded(accepted)
            .toDF("doc_base", "sh_base", "band", "key"))
          .groupBy("band", "key")
          .agg(collect_list(struct(col("doc_base"), col("sh_base")))
            .as("ds"))
          .filter(size(col("ds")) <= maxBucket)))
  }

  /** [[refreshMinhashIndex]] for the embedding SRP index — the SAME
    * plane tables must be passed (the index's geometry; its digest is
    * part of the refresh key). Same cap caveat. */
  def refreshEmbeddingIndex(spark: SparkSession, idx: EmbeddingIndex,
      accepted: DataFrame, tables0: Seq[Seq[Seq[Double]]],
      maxBucket: Int = 10000, buckets: Int = 8): EmbeddingIndex = {
    val key = identityKey(accepted)
      .map(k => s"refresh|${idx.bucketsTable}|$k")
    val params = s"emb|$maxBucket|$buckets|planes:${md5(tables0.toString)}"
    EmbeddingIndex(
      table("emb_buckets_r", key, params, Seq("t", "bucket"), buckets)(
        spark.table(idx.bucketsTable)
          .select(col("t"), col("bucket"),
            explode(col("base_ds")).as("vec_id"))
          .unionByName(Dedup.embeddingVecs(accepted)
            .select(col("vec_id"), posexplode(
              graft.functions.Vectors.srpBucketsAll(col("v"), tables0)))
            .toDF("vec_id", "t", "bucket")
            .select(col("t"), col("bucket"), col("vec_id")))
          .groupBy("t", "bucket")
          .agg(collect_list("vec_id").as("base_ds"))
          .filter(size(col("base_ds")) <= maxBucket)),
      table("emb_vecs_r", key, params, Seq("vec_id"), buckets)(
        spark.table(idx.vecsTable)
          .unionByName(Dedup.embeddingVecs(accepted))))
  }

  // ---- segment-list lifecycle for the BANDED families (round 13).
  // SURVEY argued the banded families keep id-merge because the
  // per-bucket skew cap is a GLOBAL property a per-segment build
  // cannot reproduce — that barrier dissolves by MOVING THE CAP TO
  // PROBE TIME: segments are written UNCAPPED (the cap guards the
  // candidate pair fan-out B², not storage B — an uncapped stored
  // list is linear in its batch), and the probe sums member counts
  // per bucket ACROSS the unioned segments before exploding,
  // skipping any bucket whose GLOBAL total exceeds the cap. That is
  // bit-for-bit the single-build cap decision — including when the
  // cap BINDS (spec-pinned with a binding cap), which the id-merge
  // refresh cannot claim (its cap caveat). Applied to all three
  // banded faces (embedding SRP, minhash, simhash): every dedup
  // index now has an O(batch) ingest path; id-merge refresh remains
  // the compaction-free alternative. -------------------------------

  /** Observed-metric names for the banded segment probes' READ
    * AMPLIFICATION (r13 verdict stretch item; the [[graft.operators.
    * Dedup.SKEW_GUARD_METRIC]] convention — telemetry rides passes
    * that run anyway, costing no extra job). Two nodes per probe:
    *
    *  - `<family>` pre-prune (on the totals leg): `segments_scanned`,
    *    `bucket_rows_pre` (stored bucket rows read across the segment
    *    union — the quantity that grows with segment count at fixed
    *    corpus), `members_pre` (total stored membership behind them).
    *  - `<family>_post` (on the cap-surviving candidate rows):
    *    `bucket_rows_post`, `members_post`.
    *
    * `bucket_rows_pre / bucket_rows_post` is the cap's prune ratio
    * (how much stored-bucket I/O the global cap discarded); the
    * probe's READ AMPLIFICATION vs a compacted single index is
    * `bucket_rows_post / bucket_groups` (see
    * [[segProbeMetricSurvName]]) — a production maintenance loop
    * watches that ratio approach the measured knee
    * (PERF.md §"Compaction trigger policy") instead of counting
    * segments blind. Read after an action via
    * `df.queryExecution.observedMetrics(segProbeMetricName(...))`. */
  def segProbeMetricName(family: String): String =
    s"graft_seg_probe_$family"
  def segProbeMetricPostName(family: String): String =
    s"graft_seg_probe_${family}_post"

  /** Third telemetry node, on the cap-SURVIVING bucket groups:
    * `bucket_groups` = distinct (slot, bucket) pairs that feed
    * candidate generation. `bucket_rows_post / bucket_groups` is the
    * probe's true per-bucket READ AMPLIFICATION — the average number
    * of stored segment rows behind each SERVED bucket, i.e. exactly
    * what a compaction would collapse to 1 (a compacted single index
    * reads one row per bucket by construction). Both sides are
    * counted on the same side of the cap filter (r15 advice: the
    * earlier `bucket_rows_pre` numerator counted rows the cap then
    * discarded, so trimming a heavy bucket INFLATED the ratio past
    * the segment count and fired the trigger early). Segment COUNT
    * bounds this ratio from above: appends into disjoint buckets add
    * scan scheduling but no per-bucket re-reading, while appends that
    * keep hitting the same buckets (the near-dup-heavy ingest that
    * actually needs compaction soonest) drive the ratio toward the
    * count. [[segProbeReadAmpBp]] reads it;
    * [[compactMinhashIfAmplified]] acts on it. */
  def segProbeMetricSurvName(family: String): String =
    s"graft_seg_probe_${family}_surv"

  private def segProbeTelemetry(totalsLeg: DataFrame, family: String,
      nSegments: Int): DataFrame =
    totalsLeg.observe(segProbeMetricName(family),
      max(lit(nSegments)).as("segments_scanned"),
      count(lit(1)).as("bucket_rows_pre"),
      sum(col("n_members")).as("members_pre"))

  private def segProbeTelemetrySurv(surviving: DataFrame,
      family: String): DataFrame =
    surviving.observe(segProbeMetricSurvName(family),
      count(lit(1)).as("bucket_groups"))

  private def segProbeTelemetryPost(candidates: DataFrame,
      family: String): DataFrame =
    candidates.observe(segProbeMetricPostName(family),
      count(lit(1)).as("bucket_rows_post"),
      sum(col("n_members")).as("members_post"))

  /** The last EXECUTED segment probe's read amplification, in basis
    * points (integer; 10000 = a compacted index's floor of one stored
    * row per surviving bucket): `bucket_rows_post · 10⁴ /
    * bucket_groups` — numerator and denominator BOTH counted after
    * the probe-time cap filter, so trimming a heavy bucket removes
    * its rows and its group together and the ratio stays ≤ the
    * segment count by construction (r15 advice fix; see
    * [[segProbeMetricSurvName]]). None until the probe has run an
    * action (observe metrics materialize with the job) or if
    * `probed` is not a segment probe of `family`. This is the
    * serve-side signal a production maintenance loop feeds to
    * [[compactMinhashIfAmplified]]: serving runs constantly
    * anyway, so the amplification is free telemetry, and the loop
    * compacts when serving — not a segment counter — says the list
    * has gone heavy. */
  def segProbeReadAmpBp(probed: DataFrame, family: String): Option[Long] =
    for {
      post <- probed.queryExecution.observedMetrics
        .get(segProbeMetricPostName(family))
      surv <- probed.queryExecution.observedMetrics
        .get(segProbeMetricSurvName(family))
      groups = surv.getAs[Long]("bucket_groups") if groups > 0
    } yield post.getAs[Long]("bucket_rows_post") * 10000L / groups

  /** Execute a probe exhaustively through ITS OWN QueryExecution so
    * its observe accumulators (the [[segProbeReadAmpBp]] source) see
    * the run, without materializing any row on the driver. The
    * obvious `probe.foreachPartition(...)` does NOT do this:
    * `Dataset.foreachPartition` re-plans the dataset through
    * `Dataset.rdd` (CatalystSerde.deserialize → a NEW QueryExecution
    * with fresh accumulator instances), so the metrics of the df you
    * HOLD read zero/None forever — the r14 amp-trigger drain executed
    * its telemetry serves that way and the trigger could never fire
    * (caught in the r15 optimization round; the drain's answer is
    * trigger-invariant by design, so no oracle tripped).
    * `queryExecution.toRdd` is the executedPlan's own RDD — same
    * plan instance, same accumulators, zero driver rows. */
  def executeForTelemetry(probed: DataFrame): Unit =
    probed.queryExecution.toRdd.foreachPartition(
      (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())

  /** A stored embedding index as a SEGMENT LIST. `planesDigest` pins
    * the SRP plane tables every segment was bucketed under: unlike
    * the minhash list (whose banding params rederive from the head
    * segment), the planes live at the CALL SITE, so an append or
    * probe under different planes would produce a mixed-geometry list
    * whose bucket collisions mean nothing — silently wrong, never
    * failing. Appends and probes must present tables with the same
    * digest (r13 advice). */
  final case class SegmentedEmbedding(segments: Seq[EmbeddingIndex],
      planesDigest: String)

  private def requirePlanes(idx: SegmentedEmbedding,
      tables: Seq[Seq[Seq[Double]]], op: String): Unit = {
    val d = md5(tables.toString)
    require(d == idx.planesDigest,
      s"$op under different SRP planes than the segment list was " +
        s"built with (digest $d != ${idx.planesDigest}): a " +
        "mixed-geometry segment list probes silently wrong — rebuild " +
        "or compact under one plane table instead")
  }

  /** The base build: one UNCAPPED segment (see the cap-at-probe note
    * above). */
  def writeEmbeddingSegmented(base: DataFrame,
      tables: Seq[Seq[Seq[Double]]],
      buckets: Int = 8): SegmentedEmbedding =
    SegmentedEmbedding(Seq(writeEmbeddingIndex(base, tables,
      maxBucket = Int.MaxValue, buckets = buckets)),
      md5(tables.toString))

  /** O(batch) maintenance: bucket ONLY the accepted batch into a new
    * uncapped segment — base tables never read or rewritten. The
    * planes must match the list's digest (see [[SegmentedEmbedding]]). */
  def appendEmbeddingSegment(idx: SegmentedEmbedding,
      accepted: DataFrame, tables: Seq[Seq[Seq[Double]]],
      buckets: Int = 8): SegmentedEmbedding = {
    requirePlanes(idx, tables, "appendEmbeddingSegment")
    SegmentedEmbedding(idx.segments :+ writeEmbeddingIndex(accepted,
      tables, maxBucket = Int.MaxValue, buckets = buckets),
      idx.planesDigest)
  }

  /** Probe a segment list — output identical to [[probeEmbedding]]
    * against the single CAPPED index over the union of the segments'
    * batches, for ANY cap (the probe-time global cap above). Segment
    * tables read through [[segmentScan]] (no Union node): the
    * per-bucket totals regroup and the vec_id verify join would
    * otherwise trust a unioned columnar concatenation's claimed
    * layout and silently miscount / drop base rows (and crash
    * outright when shuffle.partitions == bucket count — see
    * segmentScan's doc). */
  def probeEmbeddingSeg(spark: SparkSession, idx: SegmentedEmbedding,
      batch: DataFrame, threshold: Double,
      tables: Seq[Seq[Seq[Double]]],
      maxBucket: Int = 10000): DataFrame = {
    requirePlanes(idx, tables, "probeEmbeddingSeg")
    enableBucketedSortOrder(spark)
    val uni = segmentScan(spark, idx.segments.map(_.bucketsTable))
    // the GLOBAL cap decision, recovered over the union: total
    // members per (t, bucket) across all segments — only buckets at
    // or under the cap survive into candidate generation
    // totals leg reads the STORED n_members column only — parquet
    // prunes the heavy member-list column from this scan
    val surviving = segProbeTelemetrySurv(
      segProbeTelemetry(uni
          .select(col("t"), col("bucket"), col("n_members")),
          "embedding", idx.segments.size)
        .groupBy("t", "bucket").agg(sum("n_members").as("n"))
        .filter(col("n") <= maxBucket)
        .select(col("t"), col("bucket")), "embedding")
    Dedup.embeddingProbe(
      segProbeTelemetryPost(uni.join(surviving, Seq("t", "bucket")),
        "embedding"),
      segmentScan(spark, idx.segments.map(_.vecsTable)),
      batch, threshold, tables)
  }

  /** A stored minhash index as a SEGMENT LIST (banding params ride
    * the head segment; appends must match). */
  final case class SegmentedMinhash(segments: Seq[MinhashIndex])

  /** The base build: one UNCAPPED segment. */
  def writeMinhashSegmented(base: DataFrame, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      buckets: Int = 8): SegmentedMinhash =
    SegmentedMinhash(Seq(writeMinhashIndex(base, n, numHashes, bands,
      maxBucket = Int.MaxValue, buckets = buckets)))

  /** O(batch) maintenance: shingle + sign ONLY the accepted batch
    * into a new uncapped segment pair (bucket index + shingle sets —
    * base tables never read or rewritten). */
  def appendMinhashSegment(idx: SegmentedMinhash, accepted: DataFrame,
      buckets: Int = 8): SegmentedMinhash = {
    val h = idx.segments.head
    SegmentedMinhash(idx.segments :+ writeMinhashIndex(accepted, h.n,
      h.numHashes, h.bands, maxBucket = Int.MaxValue,
      buckets = buckets))
  }

  /** Probe a minhash segment list — output identical to
    * [[probeMinhash]] against the single CAPPED index over the union
    * of the segments' batches, for ANY cap ([[probeEmbeddingSeg]]'s
    * probe-time global cap; [[segmentScan]] reads, so the
    * union-partitioning hazard cannot arise). The verify-side shingle
    * sets scan needs no regroup — segment batches are disjoint doc_id
    * sets. */
  def probeMinhashSeg(spark: SparkSession, idx: SegmentedMinhash,
      batch: DataFrame, threshold: Double = 0.8,
      maxBucket: Int = 10000): DataFrame = {
    enableBucketedSortOrder(spark)
    val h = idx.segments.head
    val uni = segmentScan(spark, idx.segments.map(_.bucketsTable))
    // totals leg reads the STORED n_members column only (see
    // probeEmbeddingSeg)
    val surviving = segProbeTelemetrySurv(
      segProbeTelemetry(uni
          .select(col("band"), col("bucket"), col("n_members")),
          "minhash", idx.segments.size)
        .groupBy("band", "bucket").agg(sum("n_members").as("n"))
        .filter(col("n") <= maxBucket)
        .select(col("band"), col("bucket")), "minhash")
    Dedup.minhashProbe(
      segProbeTelemetryPost(uni.join(surviving, Seq("band", "bucket")),
        "minhash"),
      segmentScan(spark, idx.segments.map(_.setsTable)),
      batch, h.n, threshold, h.numHashes, h.bands)
  }

  /** A stored simhash index as a SEGMENT LIST. */
  final case class SegmentedSimhash(segments: Seq[SimhashIndex])

  /** The base build: one UNCAPPED segment. */
  def writeSimhashSegmented(base: DataFrame,
      buckets: Int = 8): SegmentedSimhash =
    SegmentedSimhash(Seq(writeSimhashIndex(base,
      maxBucket = Int.MaxValue, buckets = buckets)))

  /** O(batch) maintenance: fingerprint ONLY the accepted batch (the
    * SimhashBits kernel pass) into a new uncapped segment. */
  def appendSimhashSegment(idx: SegmentedSimhash, accepted: DataFrame,
      buckets: Int = 8): SegmentedSimhash =
    SegmentedSimhash(idx.segments :+ writeSimhashIndex(accepted,
      maxBucket = Int.MaxValue, buckets = buckets))

  /** Probe a simhash segment list — output identical to
    * [[probeSimhash]] against the single CAPPED index over the union
    * of the segments' batches, for ANY cap (probe-time global cap
    * over the unioned member structs). */
  def probeSimhashSeg(spark: SparkSession, idx: SegmentedSimhash,
      batch: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 65535): DataFrame = {
    enableBucketedSortOrder(spark)
    val uni = segmentScan(spark, idx.segments.map(_.table))
    // totals leg reads the STORED n_members column only (see
    // probeEmbeddingSeg)
    val surviving = segProbeTelemetrySurv(
      segProbeTelemetry(uni
          .select(col("band"), col("key"), col("n_members")),
          "simhash", idx.segments.size)
        .groupBy("band", "key").agg(sum("n_members").as("n"))
        .filter(col("n") <= maxBucket)
        .select(col("band"), col("key")), "simhash")
    Dedup.simhashProbe(Dedup.simhashBatchBanded(batch),
        segProbeTelemetryPost(uni.join(surviving, Seq("band", "key")),
          "simhash"), maxHamming)
      .distinct()
      .orderBy("doc_batch", "doc_base")
  }

  /** Compact a minhash segment list back to ONE CAPPED index pair —
    * the LSM third verb for the banded families. The stored segment
    * bucket rows merge directly (explode members, regroup per
    * (band, bucket), apply the cap on the GLOBAL membership): because
    * segments are uncapped, this equals `writeMinhashIndex` over the
    * union of the batches EXACTLY — the refresh verb's cap caveat
    * (a bucket dropped at an earlier capped build cannot resurrect)
    * does not exist here. O(index); the corpus is never re-read or
    * re-shingled. */
  def compactMinhashSegments(spark: SparkSession, idx: SegmentedMinhash,
      maxBucket: Int = 10000, buckets: Int = 8): MinhashIndex = {
    val h = idx.segments.head
    val params = s"mh|${h.n}|${h.numHashes}|${h.bands}|$maxBucket|$buckets"
    val key = Some(
      s"compact|${idx.segments.map(_.bucketsTable).mkString(",")}")
    val sKey = Some(
      s"compact|${idx.segments.map(_.setsTable).mkString(",")}")
    MinhashIndex(
      table("mh_buckets_sc", key, params, Seq("band", "bucket"),
        buckets)(
        segmentScan(spark, idx.segments.map(_.bucketsTable))
          .select(col("band"), col("bucket"),
            explode(col("base_ds")).as("doc_id"))
          .groupBy("band", "bucket")
          .agg(collect_list("doc_id").as("base_ds"),
            count("*").cast("int").as("n_members"))
          .filter(col("n_members") <= maxBucket)),
      table("mh_sets_sc", sKey, params, Seq("doc_id"), buckets)(
        segmentScan(spark, idx.segments.map(_.setsTable))),
      h.n, h.numHashes, h.bands)
  }

  /** [[compactMinhashSegments]] for the simhash list (member structs
    * carry the fingerprints, so the merge is pure regroup). */
  def compactSimhashSegments(spark: SparkSession, idx: SegmentedSimhash,
      maxBucket: Int = 65535, buckets: Int = 8): SimhashIndex = {
    val key = Some(
      s"compact|${idx.segments.map(_.table).mkString(",")}")
    SimhashIndex(
      table("sh_idx_sc", key, s"sh|$maxBucket|$buckets",
        Seq("band", "key"), buckets)(
        segmentScan(spark, idx.segments.map(_.table))
          .select(col("band"), col("key"), explode(col("ds")).as("e"))
          .select(col("e.doc_base").as("doc_base"),
            col("e.sh_base").as("sh_base"), col("band"), col("key"))
          .groupBy("band", "key")
          .agg(collect_list(struct(col("doc_base"), col("sh_base")))
            .as("ds"),
            count("*").cast("int").as("n_members"))
          .filter(col("n_members") <= maxBucket)))
  }

  /** [[compactMinhashSegments]] for the embedding list. */
  def compactEmbeddingSegments(spark: SparkSession,
      idx: SegmentedEmbedding, maxBucket: Int = 10000,
      buckets: Int = 8): EmbeddingIndex = {
    val key = Some(
      s"compact|${idx.segments.map(_.bucketsTable).mkString(",")}")
    val vKey = Some(
      s"compact|${idx.segments.map(_.vecsTable).mkString(",")}")
    val params = s"emb|$maxBucket|$buckets|compacted"
    EmbeddingIndex(
      table("emb_buckets_sc", key, params, Seq("t", "bucket"), buckets)(
        segmentScan(spark, idx.segments.map(_.bucketsTable))
          .select(col("t"), col("bucket"),
            explode(col("base_ds")).as("vec_id"))
          .groupBy("t", "bucket")
          .agg(collect_list("vec_id").as("base_ds"),
            count("*").cast("int").as("n_members"))
          .filter(col("n_members") <= maxBucket)),
      table("emb_vecs_sc", vKey, params, Seq("vec_id"), buckets)(
        segmentScan(spark, idx.segments.map(_.vecsTable))))
  }

  /** LSM triggers for the banded segment lists. Post-hazard-fix
    * (r14), banded probes read the list as one [[segmentScan]] and
    * measure FLAT in segment count at all three decades (PERF.md
    * §"Compaction trigger policy"), so [[DefaultMaxSegments]] here
    * is periodic hygiene — the precise trigger is the served
    * read-amplification ([[compactMinhashIfAmplified]] below).
    * NOTE the compacted result
    * is a CAPPED single index: keep probing it with [[probeMinhash]]/
    * [[probeSimhash]]/[[probeEmbedding]], or re-wrap as a fresh
    * segment list only under the same cap discipline. */
  def compactMinhashIfOver(spark: SparkSession, idx: SegmentedMinhash,
      maxSegments: Int = DefaultMaxSegments, maxBucket: Int = 10000,
      buckets: Int = 8): Either[SegmentedMinhash, MinhashIndex] =
    if (idx.segments.size <= maxSegments) Left(idx)
    else Right(compactMinhashSegments(spark, idx, maxBucket, buckets))

  def compactSimhashIfOver(spark: SparkSession, idx: SegmentedSimhash,
      maxSegments: Int = DefaultMaxSegments, maxBucket: Int = 65535,
      buckets: Int = 8): Either[SegmentedSimhash, SimhashIndex] =
    if (idx.segments.size <= maxSegments) Left(idx)
    else Right(compactSimhashSegments(spark, idx, maxBucket, buckets))

  def compactEmbeddingIfOver(spark: SparkSession,
      idx: SegmentedEmbedding, maxSegments: Int = DefaultMaxSegments,
      maxBucket: Int = 10000, buckets: Int = 8):
      Either[SegmentedEmbedding, EmbeddingIndex] =
    if (idx.segments.size <= maxSegments) Left(idx)
    else Right(compactEmbeddingSegments(spark, idx, maxBucket, buckets))

  /** Amplification at the measured segment-count knee, in bp: the
    * count knee is 4 ([[DefaultMaxSegments]], three measured decades,
    * PERF.md), and per-bucket amplification equals the count exactly
    * when every append lands in already-occupied buckets — so 4.0 is
    * the worst-case amplification the count trigger tolerates. The
    * amp trigger reaches the same decision on overlap-heavy lists
    * while correctly WAITING longer on disjoint-bucket appends, which
    * pay scan scheduling (~0.1 s/segment, PERF.md) but no per-bucket
    * re-reading. */
  val KneeAmpBp = 40000L

  /** Read-amplification-driven LSM triggers (the serve-telemetry
    * loop closed; r13 stretch item follow-through): instead of
    * counting segments blind, feed the last EXECUTED probe of this
    * list — serving runs constantly in production, so its
    * [[segProbeReadAmpBp]] is free — and compact when the observed
    * per-bucket amplification crosses `maxAmpBp`. A probe that has
    * not run (or a df that is not this family's segment probe) reads
    * as None and the list passes through untouched, so wiring the
    * trigger before the first serve is safe. The segment-COUNT
    * trigger ([[compactMinhashIfOver]]) remains the backstop for
    * scheduling overhead on disjoint-bucket lists. */
  def compactMinhashIfAmplified(spark: SparkSession,
      idx: SegmentedMinhash, lastProbe: DataFrame,
      maxAmpBp: Long = KneeAmpBp, maxBucket: Int = 10000,
      buckets: Int = 8): Either[SegmentedMinhash, MinhashIndex] =
    if (!segProbeReadAmpBp(lastProbe, "minhash").exists(_ > maxAmpBp))
      Left(idx)
    else Right(compactMinhashSegments(spark, idx, maxBucket, buckets))

  /** Read a stored segment-table list as ONE relation. A single table
    * passes through as its bucketed catalog scan (exchange-free
    * probes); a multi-segment list is read as a single MULTI-PATH
    * parquet scan of the tables' storage locations — deliberately NOT
    * a Union of catalog scans, and NOT the r12 fence (explicit
    * repartition over the union) either. Round-14 lesson: Spark 4.1's
    * `spark.sql.unionOutputPartitioning` (default true) lets a Union
    * of co-bucketed scans ADVERTISE the zipped hash partitioning
    * while the columnar path materializes a plain partition
    * concatenation — and when `spark.sql.shuffle.partitions` equals
    * the bucket count (the natural production layout: shuffles sized
    * to the index), the claim SATISFIES every downstream requirement,
    * so EnsureRequirements elides the consumer exchanges AND the
    * fence repartition itself. The plan then either crashes
    * (SortMergeJoin zip of claimed-N against actual-kN partitions —
    * how the 100x rehearsal caught this) or silently splits
    * per-segment groups (the 125-dup wrong-answer mode, PERF.md
    * §"Wrong-answer hazard"). A multi-path scan has no Union node and
    * no bucketing claim, so the merge's one owed shuffle is inserted
    * normally by each consumer under ANY conf — same cost as the
    * fence when the fence held, correct when it did not. */
  private[sources] def segmentScan(spark: SparkSession,
      tables: Seq[String]): DataFrame =
    tables match {
      case Seq(one) => spark.table(one)
      case many =>
        val schema = spark.table(many.head).schema
        val paths = many.map(t => spark.sessionState.catalog
          .getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))
          .location.toString)
        if (paths.distinct.size == paths.size)
          spark.read.schema(schema).parquet(paths: _*)
        else
          // Duplicate OCCURRENCES (the build-once registry returns
          // the SAME physical table when an identical file-backed
          // batch is re-appended): one multi-path scan would
          // silently collapse them — InMemoryFileIndex keys leaf
          // files by path — halving that batch's contribution while
          // union-shaped consumers (the postings merge) still count
          // it twice (r15 advice). Read each occurrence as its own
          // path scan and union: plain path scans advertise no
          // partitioning, so the Union claims nothing and the r14
          // elision hazard cannot arise (FenceElisionProbeSpec).
          paths.map(p => spark.read.schema(schema).parquet(p))
            .reduce(_ unionByName _)
    }

  /** Probe a stored embedding index — output identical to
    * [[Dedup.incrementalEmbeddingNearDup]] over the same base with the
    * same planes. */
  def probeEmbedding(spark: SparkSession, idx: EmbeddingIndex,
      batch: DataFrame, threshold: Double,
      tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    enableBucketedSortOrder(spark)
    Dedup.embeddingProbe(
      spark.table(idx.bucketsTable).hint("merge"),
      spark.table(idx.vecsTable),
      batch, threshold, tables)
  }
}
