package graft.streaming

import java.sql.Timestamp

import graft.functions.Tokenizer
import graft.operators.EventOps
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Per-user running total — output row of [[EventStreams.userRunningCounts]]. */
final case class UserCount(user_id: Long, n_events: Long)

/** A closed per-user session — output row of [[EventStreams.userSessions]]. */
final case class UserSession(user_id: Long, s_start: Timestamp,
    s_end: Timestamp, n_events: Long)

/** State carried between micro-batches for one user's open session. */
final case class SessionState(start: Long, last: Long, n: Long)

/** Output row of [[EventStreams.asofEnrichStream]] — one per query
  * event, with the matched reference event (None when the key has no
  * reference at-or-before the query time). */
final case class AsofMatch(ev_id: Long, user_id: Long, ev_ts: Timestamp,
    asof_id: Option[Long], asof_ts: Option[Timestamp],
    gap_us: Option[Long])

/** Buffered per-key state for the streaming as-of join: pending query
  * rows (not yet past the watermark) and candidate reference rows,
  * both as (ts_us, event_id). */
final case class AsofState(lefts: List[(Long, Long)],
    rights: List[(Long, Long)])

/** One user-journey transition — output row of
  * [[EventStreams.typeTransitionsStream]]. */
final case class Transition(user_id: Long, from_id: Long, to_id: Long,
    from_type: String, to_type: String)

/** Per-user state for the streaming transition miner: events not yet
  * final (ts at-or-past the watermark) as (ts_us, event_id, type),
  * plus the last FINAL event — the "from" side of the next emission. */
final case class TransState(buf: List[(Long, Long, String)],
    carry: Option[(Long, Long, String)])

/** Running decayed activity — output row of
  * [[EventStreams.decayedCountsStream]]. */
final case class DecayCount(event_type: String, n_events: Long,
    decay_e6: Long)

/** Per-type state for the streaming decay counter: event counts per
  * epoch-day (bounded — days older than 50 half-lives collapse into
  * `ancient`), so every emission can recompute the EXACT batch
  * staircase. */
final case class DecayState(days: Map[Long, Long], ancient: Long)

/** Structured Streaming forms of the event/word-count analytics.
  *
  * The aggregation bodies are shared with the batch operators
  * ([[graft.operators.EventOps]]) — Spark's unified batch/stream
  * planning means the same logical transform runs incrementally with
  * state in the streaming case. Batch-vs-stream equivalence is pinned
  * in StreamingSpec.
  *
  * Scale posture: stateful aggs keyed by (window, event_type) — state
  * store size is bounded by watermark eviction; file sources split by
  * file, `maxFilesPerTrigger` bounds per-batch volume.
  */
object EventStreams extends Serializable {

  /** Schema of the events table (streaming file sources must declare
    * their schema up front — no inference race at scale). `ts` is
    * declared as raw nanos (LongType) — the variant used when the
    * source files store Parquet TIMESTAMP(NANOS), which Spark can only
    * read via the legacy nanosAsLong conf; µs-encoded files use
    * [[eventSchema]] instead (see [[readEvents]]'s sniff). */
  val rawEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Post-normalization schema (ts as a proper timestamp). */
  val eventSchema: StructType = StructType(
    rawEventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** Streaming file source over an events parquet directory, tolerant
    * of both `ts` encodings the data has shipped with (raw TIMESTAMP
    * NANOS read as a long, or plain TIMESTAMP MICROS). A streaming
    * source must declare its schema up front, so sniff the footer of
    * the existing files with a one-off batch read, then declare the
    * matching schema; the nanos path is normalized ns → µs exactly
    * like the batch reader ([[graft.sources.Tables.events]]) so batch
    * and stream agree to the microsecond. */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // Same UTC pin as the batch reader (Tables.events): the declared-
    // schema read of NTZ-encoded files is value-preserving only there.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The sniff is a batch read, which fails on a directory with no
    // files yet — a legitimate streaming start state (files arrive
    // later). Fall back to the declared µs schema then: every file
    // this engine writes is µs, and a late-arriving nanos file would
    // fail the stream loudly (schema mismatch), not silently shift.
    val onDisk =
      try spark.read.parquet(path).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        eventSchema("ts").dataType }
    if (onDisk == LongType)
      spark.readStream
        .schema(rawEventSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else readEventsMicros(spark, path, maxFilesPerTrigger)
  }

  /** Streaming source over µs-timestamp event parquet (e.g. files this
    * engine wrote itself) — no nanos normalization needed. */
  def readEventsMicros(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Tumbling-window counts + value sums per event_type — the exact
    * batch aggregation body ([[EventOps.windowedCounts]]), run
    * incrementally. With `watermark` set, append-mode sinks emit each
    * window once it can no longer receive late rows, and rows older
    * than the watermark are dropped. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
      watermark: Option[String] = None): DataFrame =
    EventOps.windowedCounts(
      watermark.fold(events)(events.withWatermark("ts", _)), windowDur)

  /** Mergeable-sketch distinct counting as a STREAM — incremental
    * index maintenance for the sketch family: the HLL aggregation
    * body of [[EventOps.distinctUsersSketch]] runs unchanged over the
    * unbounded stream (complete/update mode), its state bounded at
    * ~16 KB per group REGARDLESS of how many users flow past — the
    * exact `countDistinct` twin is deliberately absent because its
    * streaming state grows with cardinality, which is precisely the
    * problem sketches exist to solve. Estimates equal the batch
    * sketch's after the stream drains (same deterministic aggregate;
    * spec-pinned). */
  def distinctUsersSketchStream(events: DataFrame,
      lgK: Int = 14): DataFrame =
    events
      .filter(col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK)))
        .as("n_users_approx"))

  /** Drain [[distinctUsersSketchStream]] over an event-id-chunked
    * replay (COMPLETE mode — a global-per-group aggregation has no
    * watermark to emit by) and return the final emission WITH the
    * exact batch `countDistinct` alongside. The estimate column is
    * rows-only BY DESIGN (HLL register layout is engine-specific, so
    * no DuckDB oracle can hash-match it); the exact column is the
    * check a reader applies instead, and the drained estimates equal
    * the batch sketch's (one deterministic, merge-associative
    * aggregate — EventOpsSpec pins error + associativity; arrival
    * chunking cannot move a merge-associative result). */
  def drainDistinctUsersSketch(events: DataFrame, lgK: Int = 14,
      nBatches: Int = 3): DataFrame = {
    val slim = events
      .select(col("event_id"), col("event_type"), col("user_id"))
    val (stream, tmp) = replayForDrain(slim, "event_id", nBatches)
    val out =
      try drainComplete(distinctUsersSketchStream(stream, lgK),
        "graft_hll_drain")
      finally tmp.foreach(deleteReplayDir)
    out
      .join(events.filter(col("user_id").isNotNull)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_users_exact")),
        Seq("event_type"))
      .select(col("event_type"), col("n_users_exact"),
        col("n_users_approx"))
      .orderBy("event_type")
  }

  /** Approximate heavy hitters over the unbounded stream: the
    * Misra–Gries aggregate ([[graft.functions.HeavyHitters]]) holds a
    * fixed `capacity`-entry summary where [[wordCountStream]]'s
    * complete-mode state grows with the vocabulary — the streaming
    * twin of the sketch-vs-exact trade [[distinctUsersSketchStream]]
    * makes for distinct counts. Exact (equal to the batch aggregate)
    * while the stream's distinct words stay under `capacity`;
    * MG's undercount bound holds beyond it. */
  def heavyHittersStream(lines: DataFrame, capacity: Int = 1024,
      textCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    lines
      .select(Tokenizer.explodeTokens(col(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .agg(ColumnBridge.column(graft.functions.HeavyHitters(
        ColumnBridge.expression(col("word")), capacity)
        .toAggregateExpression()).as("top"))
  }

  /** The reference pipeline as a stream: word counts over a streaming
    * Dataset of text lines (S1->T2->A3/X4 of SURVEY.md §2, incremental).
    * Complete/update-mode sink; counts accumulate across batches
    * exactly as the reference accumulates across its input batches
    * (reference: /root/reference/src/main.cpp:146-178 batch loop). */
  def wordCountStream(lines: DataFrame, textCol: String = "value"): DataFrame =
    lines
      .select(Tokenizer.explodeTokens(col(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count("*").as("cnt"))

  /** Streaming exact dedup with BOUNDED state: each key is remembered
    * only until the event-time watermark passes it, so state is
    * O(events per watermark window), not O(all history) — the only
    * dedup that survives an unbounded stream. The contract this buys:
    * a duplicate arriving within `watermarkDelay` of the original is
    * dropped; one arriving later than the watermark may not be (its
    * state was evicted) — at-least-once sources are expected to
    * redeliver promptly, which is exactly the window this bounds.
    * Batch equivalence (duplicates planted across micro-batches) is
    * pinned in StreamingSpec. */
  def dedupEvents(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static incremental exact dedup — the streaming ingest face
    * of [[graft.operators.Dedup.incrementalExact]]: documents arrive
    * as a stream, the deduplicated base corpus participates only as
    * its static 16-byte fingerprint relation (`baseFps`, column
    * `fp_md5` — at 100 TB a bucketed/materialized index, re-read per
    * micro-batch but never shuffled wholesale thanks to the stream-
    * static anti-join), and within-stream duplicates are dropped by
    * fingerprint state. Survivors stream out in append mode, ready for
    * an exactly-once sink.
    *
    * Within-stream state is the distinct-fingerprint set (16 bytes per
    * novel doc — the minimum any exact incremental dedup must
    * remember). Documents carry no event time, so there is no
    * watermark to bound it; an ingest pipeline that needs bounded
    * state stamps an arrival time and uses the
    * `dropDuplicatesWithinWatermark` form ([[dedupEvents]]) with the
    * redelivery-window bound. Keep-first here means first ARRIVED
    * (micro-batch order), vs smallest doc_id in the batch operator —
    * StreamingSpec pins the survivor fingerprint sets equal. */
  def incrementalDedupStream(docs: DataFrame,
      baseFps: DataFrame): DataFrame = {
    // the static fp index materializes ONCE, pre-partitioned and
    // sorted on the join key: a stream-static join re-plans per
    // micro-batch, and an unpartitioned static side would re-scan,
    // re-hash, and re-exchange the base corpus EVERY batch (the 100x
    // rehearsal's superlinear wall) — with the partitioning baked
    // into the checkpointed blocks, each batch's anti-join reuses
    // them exchange-free and only the (small) arriving side moves
    val fps = graft.operators.CheckpointScope.checkpointed(
      baseFps.select(col("fp_md5"))
        .repartition(col("fp_md5")).sortWithinPartitions("fp_md5"))
    docs
      .withColumn("fp_md5",
        graft.functions.TextAnalysis.fingerprintMd5(col("text")))
      .join(fps, Seq("fp_md5"), "left_anti")
      .dropDuplicates("fp_md5")
  }

  /** Drain [[incrementalDedupStream]] over a bounded ingest and return
    * the survivors as a BATCH DataFrame — the harness face that puts
    * the streaming ingest path under the SAME DuckDB oracle as the
    * batch operator ([[graft.operators.Dedup.incrementalExact]]),
    * giving the streaming family a hash-checked driver row
    * (StreamingSpec stays the deep multi-batch equivalence check).
    *
    * The stream's keep-first is first-ARRIVED while the batch
    * operator's is smallest-doc_id, so arrival order is made
    * deterministic and id-ascending: the ingest half is written as
    * `nBatches` doc_id-RANGE chunks — sequential single-file writes
    * with explicitly increasing mod-times, each sorted by doc_id —
    * and `maxFilesPerTrigger = 1` replays them as that many
    * micro-batches in mod-time order. Within a micro-batch the single
    * input partition keeps per-state-partition row order (one map
    * block per reduce partition), so the state store, too, sees each
    * fingerprint's smallest doc_id first. First-arrived == smallest
    * id, and the outputs are row-identical to the batch operator. */
  /** Replay a bounded relation as `nBatches` micro-batches in
    * ascending `idCol` order: sequential single-file id-range chunk
    * writes with explicitly increasing mod-times (the file source
    * replays in (modTime, path) order), read back with
    * `maxFilesPerTrigger = 1`. Within a micro-batch the single input
    * partition keeps per-state-partition row order. */
  private def replayAsMicroBatches(rows: DataFrame, idCol: String,
      nBatches: Int,
      tail: Option[DataFrame] = None): (DataFrame, java.nio.file.Path) = {
    val spark = rows.sparkSession
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-incr-ingest").toString
    val b = rows.agg(min(col(idCol)), max(col(idCol))).head()
    // loud empty-input guard: min/max are NULL on an empty relation
    // and the getLong below would otherwise die on a null unboxing
    require(!b.isNullAt(0),
      s"replayAsMicroBatches: empty ingest relation (no $idCol rows " +
        "to chunk into micro-batches)")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hi - lo) / nBatches + 1)
    val seen = scala.collection.mutable.Set.empty[java.nio.file.Path]
    // stamp strictly increasing mod-times so two chunks written
    // inside one clock tick cannot tie in replay order
    def writeChunk(chunk: DataFrame, i: Int): Unit = {
      chunk.coalesce(1).sortWithinPartitions(idCol)
        .write.mode("append").parquet(tmp)
      val dir = java.nio.file.Paths.get(tmp)
      val ls = java.nio.file.Files.list(dir) // close: fd per chunk
      try ls.forEach { p =>
        if (p.toString.endsWith(".parquet") && seen.add(p))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(
              1000000000000L + i * 60000L))
      } finally ls.close()
    }
    (0 until nBatches).foreach { i =>
      writeChunk(rows.filter(
        col(idCol) >= lo + i * width &&
          (if (i == nBatches - 1) lit(true)
           else col(idCol) < lo + (i + 1) * width)), i)
    }
    // optional FINAL chunk replayed after every range chunk — the
    // watermark-flush sentinel's slot: an id-range split would lump
    // nearly all real rows into chunk 0 if the far-future sentinel
    // stretched [lo, hi], so it ships as its own last micro-batch
    tail.foreach(writeChunk(_, nBatches))
    (spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp),
      java.nio.file.Paths.get(tmp))
  }

  /** Per-JVM cache of drain replay directories, keyed by the replayed
    * relation's canonical plan + chunking parameters (r10 verdict
    * stretch item: the 7+ drained harness queries were dominated by
    * re-writing identical chunk files on every bench run — the warm-up
    * plus 3 timed runs each re-chunked the same static table). A hit
    * skips the chunk writes and replays the existing directory; what
    * the bench TIMES is unchanged — the full streaming execution
    * (micro-batch scheduling, state store, sink) still runs per
    * measurement.
    *
    * Safety: only relations whose analyzed plan is entirely
    * file-backed are cacheable, and the key carries the relation's
    * sorted `inputFiles` list as the data identity — the canonical
    * plan alone is NOT enough, because a parquet LogicalRelation
    * canonicalizes without its paths ("Relation [none#0L,...]
    * parquet"), so two same-schema drains over different directories
    * would otherwise collide. LocalRelation / LogicalRDD plans (spec
    * fixtures) and relations with empty inputFiles take the uncached
    * path and keep their delete-after-drain behavior. Data under a
    * file path is immutable within one JVM session (the harness
    * contract; the driver regenerates testdata only BETWEEN rounds,
    * i.e. between JVMs). Cached directories are removed by a shutdown
    * hook. */
  private object ReplayDirCache {
    private val dirs =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    locally {
      java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
        dirs.values.forEach { d =>
          try deleteReplayDir(java.nio.file.Paths.get(d))
          catch { case _: Throwable => () }
        }))
    }
    def get(key: String): Option[String] = Option(dirs.get(key))
    def put(key: String, p: java.nio.file.Path): Unit =
      dirs.put(key, p.toString)
  }

  /** [[replayAsMicroBatches]] behind [[ReplayDirCache]] — the form
    * every memory-sink DRAIN uses. Returns the replay stream plus the
    * directory to delete after the drain IF the relation was not
    * cacheable (None = cache-owned, swept at JVM exit). */
  private def replayForDrain(rows: DataFrame, idCol: String,
      nBatches: Int, tail: Option[DataFrame] = None)
      : (DataFrame, Option[java.nio.file.Path]) = {
    val spark = rows.sparkSession
    val plan = rows.queryExecution.analyzed
    val fileBacked = !plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        true
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    // A parquet LogicalRelation canonicalizes WITHOUT its file paths
    // ("Relation [none#0L,...] parquet"), so the canonical plan alone
    // cannot distinguish two same-schema drains reading DIFFERENT
    // directories — the sorted file list is the data identity and must
    // be part of the key. Empty inputFiles = no identity → uncached.
    val files =
      if (fileBacked) rows.inputFiles.sorted else Array.empty[String]
    if (!fileBacked || files.isEmpty) {
      val (s, p) = replayAsMicroBatches(rows, idCol, nBatches, tail)
      (s, Some(p))
    } else ReplayDirCache.synchronized {
      // the sentinel tail is a 1-row driver-built relation — its DATA
      // goes into the key (a LocalRelation's plan text does not carry
      // values, and two drains may differ only in their sentinel)
      val key = Seq(rows.schema.catalogString, idCol, nBatches.toString,
        tail.map(t => t.schema.catalogString +
          t.collect().mkString(";")).getOrElse(""),
        files.mkString(","),
        plan.canonicalized.toString).mkString("\u0000")
      ReplayDirCache.get(key) match {
        case Some(dir) =>
          (spark.readStream.schema(rows.schema)
            .option("maxFilesPerTrigger", 1).parquet(dir), None)
        case None =>
          val (s, p) = replayAsMicroBatches(rows, idCol, nBatches, tail)
          ReplayDirCache.put(key, p)
          (s, None)
      }
    }
  }

  /** Recursively delete a drain's replay directory — the memory sink
    * holds the drained rows, so the files are dead weight the moment
    * the query terminates. */
  private def deleteReplayDir(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val ws = java.nio.file.Files.walk(dir) // close: fd per drain
    val paths = try ws.iterator().asScala.toVector finally ws.close()
    paths.sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** Drain a streaming query into a batch DataFrame via a uniquely
    * named memory sink (AvailableNow — terminates when the bounded
    * source is exhausted). The sink's rows are copied into a
    * LocalRelation and the UUID-named temp view dropped before
    * returning: the bench re-runs each drain many times per session,
    * and an undropped memory sink would pin a full result copy in
    * driver memory per run for the life of the SparkSession. The
    * copy is bounded — drained results are harness-output scale. */
  private def drain(out: DataFrame, label: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val qname = label + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val spark = out.sparkSession
    runDrain(spark, out.writeStream.format("memory").queryName(qname)
      .outputMode(mode))
    val sink = spark.table(qname)
    val rows = spark.createDataFrame(sink.collectAsList(), sink.schema)
    spark.catalog.dropTempView(qname)
    rows
  }

  /** Shuffle/state partition count for the harness DRAINS only — NOT
    * batch queries. A stateful micro-batch commits one state store
    * per shuffle partition per trigger, so at the session default
    * (32) a 4-micro-batch two-sided drain pays 2 x 32 x 4 = 256
    * HDFS-backed store commits to move a few thousand rows — the
    * q_events_attrib_stream fixed-cost ceiling the r11 bench
    * documented. Drain volumes are harness-output scale (thousands of
    * rows), so 8 partitions keeps every core busy per store while
    * quartering the commit count. Answers are partition-count
    * independent (each drain's determinism argument — pair sets,
    * min-id keeps, watermark flush — never references partitioning;
    * the shared oracles gate that per round). */
  private val DrainShufflePartitions = 8

  private val CheckpointLocationKey = "spark.sql.streaming.checkpointLocation"

  /** Session conf every drain runs under. Besides the partition count,
    * the checkpoint file manager: Spark's default FileContext manager
    * renames on `file:` through `getFileLinkStatus` twice, and without
    * libhadoop each call forks a `readlink` process — on every WAL
    * entry, commit-log entry and state-store delta. The FileSystem
    * manager commits with `exists` plus one `RawLocalFileSystem.rename`,
    * a single atomic rename(2), and forks nothing (PERF.md §"Fork-free
    * drain checkpoints"). State-file checksums and Hadoop `.crc` files
    * are untouched. */
  private[graft] val DrainConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> DrainShufflePartitions.toString,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"))

  /** The one place a drain starts a streaming query: `writer` runs
    * AvailableNow (terminates when the bounded source is exhausted)
    * from start() through awaitTermination() with [[DrainConf]] set on
    * the session, and every key is restored exactly afterwards — also
    * when the query fails; a key that was unset stays unset.
    * awaitTermination stays INSIDE the scope: the stream thread clones
    * the session (and its conf) after start() returns, and stateful
    * operators and the checkpoint manager read the conf when each
    * micro-batch plans, so restoring early would race the clone. A
    * session-wide checkpoint location is refused: drains run on Spark's
    * local temporary checkpoint, which the FileSystem manager is chosen
    * for and which is deleted when the query stops. */
  private[graft] def runDrain[T](spark: SparkSession,
      writer: DataStreamWriter[T]): Unit = {
    // getAll holds only the keys set on the session (getOption would
    // report a registered default as set and the restore would pin it)
    val set = spark.conf.getAll
    require(!set.contains(CheckpointLocationKey),
      s"runDrain: $CheckpointLocationKey is set on the session; " +
        "drains run on Spark's local temporary checkpoint — unset it")
    val prev = DrainConf.map { case (k, _) => k -> set.get(k) }
    DrainConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** [[drain]] in COMPLETE output mode — for bounded replays of
    * global aggregations whose own state is bounded (the Misra–Gries
    * summary below: `capacity` entries regardless of stream length),
    * where the final complete emission IS the batch answer. */
  private def drainComplete(out: DataFrame, label: String): DataFrame =
    drain(out, label, OutputMode.Complete())

  /** One year in µs — the watermark-flush sentinel's offset past the
    * real maximum event time: generously clears any watermark delay +
    * gap + window the drained queries use. */
  private val YearUs = 31536000000000L

  /** Run a drain body inside a [[graft.operators.CheckpointScope]]
    * and release every checkpoint block it pinned once the drained
    * rows are safely copied off ([[drain]] returns a LocalRelation,
    * so nothing in the result depends on the blocks). Without this,
    * each bench run of a drained query left its static index
    * checkpoints pinned for the JVM lifetime — at the 100x rehearsal
    * that accumulated to disk exhaustion across runs. */
  private def scopedDrain(spark: SparkSession)(
      body: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val (out, created) = graft.operators.CheckpointScope.collect(body)
    created.foreach(id => sc.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
    out
  }

  /** REHEARSAL-ONLY sink shape for CORPUS-SCALE stream outputs:
    * replay `batch` as micro-batches through `transform` and drive
    * the stream with foreachBatch + per-batch count — every output
    * row is materialized on the EXECUTORS and never collected to the
    * driver. The memory-sink drains above are bounded-output HARNESS
    * tooling (they copy the result into driver memory twice — sink
    * table + LocalRelation); an output that is itself corpus-scale
    * (the exact-dedup survivors: most of the ingest) belongs to the
    * exactly-once parquet sink in a deployment, and to this shape in
    * a scale rehearsal — the 100x run that OOMed the driver through
    * the memory sink is exactly the wall this exists to avoid.
    * Returns total output rows; checkpoints created by `transform`
    * (the static index relations) are released before returning. */
  private[graft] def replayThroughCountSink(batch: DataFrame,
      idCol: String, transform: DataFrame => DataFrame,
      nBatches: Int = 3,
      tail: Option[DataFrame] = None,
      mode: OutputMode = OutputMode.Append()): Long = {
    val spark = batch.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft_rehearsal_rows")
    val (_, created) = graft.operators.CheckpointScope.collect {
      val (stream, tmp) = replayAsMicroBatches(batch, idCol, nBatches,
        tail)
      try {
        runDrain(spark, transform(stream).writeStream
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[
               org.apache.spark.sql.Row], _: Long) =>
              acc.add(df.count())
          }
          .outputMode(mode))
      } finally deleteReplayDir(tmp)
    }
    created.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
    acc.value
  }

  def drainIncrementalDedup(base: DataFrame, batch: DataFrame,
      nBatches: Int = 3): DataFrame = {
    val (stream, tmp) = replayForDrain(batch, "doc_id", nBatches)
    val baseFps = base
      .select(graft.functions.TextAnalysis.fingerprintMd5(col("text"))
        .as("fp_md5"))
      .distinct()
    scopedDrain(base.sparkSession) {
      try drain(incrementalDedupStream(stream, baseFps),
        "graft_incr_dedup_drain")
      finally tmp.foreach(deleteReplayDir)
    }
  }

  /** The NEAR-dup face of [[drainIncrementalDedup]]: the ingest half
    * replays as micro-batches through [[incrementalNearDupStream]]
    * (minhash bands probe the base index, exact-Jaccard verified) and
    * the drained pair relation shares the batch operator's oracle.
    * Simpler determinism argument than the exact face: the output is
    * a verified pair SET — each pair can only arrive in its
    * batch-document's one micro-batch, so no keep-first rule exists
    * for arrival order to perturb. */
  def drainIncrementalNearDup(base: DataFrame, batch: DataFrame,
      nBatches: Int = 3): DataFrame = {
    val (stream, tmp) = replayForDrain(batch, "doc_id", nBatches)
    scopedDrain(base.sparkSession) {
      try drain(incrementalNearDupStream(stream, base),
        "graft_incr_near_drain")
      finally tmp.foreach(deleteReplayDir)
    }
  }

  /** The SIMHASH face of [[drainIncrementalNearDup]] — same pair-set
    * determinism argument. */
  def drainIncrementalSimhash(base: DataFrame, batch: DataFrame,
      nBatches: Int = 3): DataFrame = {
    val (stream, tmp) = replayForDrain(batch, "doc_id", nBatches)
    scopedDrain(base.sparkSession) {
      try drain(incrementalSimhashStream(stream, base),
        "graft_incr_simhash_drain")
      finally tmp.foreach(deleteReplayDir)
    }
  }

  /** The EMBEDDING face of [[drainIncrementalNearDup]] — same
    * pair-set determinism argument, vectors instead of documents. */
  def drainIncrementalEmbedding(base: DataFrame, batch: DataFrame,
      threshold: Double,
      planes: Option[Seq[Seq[Seq[Double]]]] = None,
      nBatches: Int = 3): DataFrame = {
    val (stream, tmp) = replayForDrain(batch, "vec_id", nBatches)
    scopedDrain(base.sparkSession) {
      try drain(incrementalEmbeddingStream(stream, base, threshold,
        planes = planes), "graft_incr_emb_drain")
      finally tmp.foreach(deleteReplayDir)
    }
  }

  /** Drain [[sessionCounts]] over a bounded, EVENT-TIME-ordered
    * replay of the events table — the harness face that puts the
    * streaming session-window serve path under the SAME DuckDB
    * oracle as the batch [[graft.operators.EventOps.sessionCounts]]
    * (the drainIncrementalDedup convention, extended to watermarked
    * aggregations). Two mechanics make the drain complete and exact:
    *
    *  - the replay chunks by event time (µs), so every micro-batch's
    *    rows are later than the previous batch's and the advancing
    *    watermark can never drop an in-order row;
    *  - one WATERMARK-FLUSH SENTINEL event (user −1, [[YearUs]] past
    *    the real maximum ts) rides as its own final micro-batch: the
    *    closing no-data batch then carries the watermark past every
    *    real session's end, so append mode emits them ALL. The
    *    sentinel's own session stays open in state and is never
    *    emitted — and is filtered defensively anyway. */
  def drainSessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("user_id"), col("ts"))
      .withColumn("__ord", unix_micros(col("ts")))
    val maxUs = slim.agg(max(col("__ord"))).head().getLong(0)
    val sentinel = Seq((-1L, maxUs + YearUs)).toDF("user_id", "__ord")
      .select(col("user_id"), timestamp_micros(col("__ord")).as("ts"),
        col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(
        sessionCounts(stream.drop("__ord"), gap, watermarkDelay),
        "graft_session_drain")
      finally tmp.foreach(deleteReplayDir)
    out.filter(col("user_id") =!= -1L)
      .orderBy("user_id", "s_start")
  }

  /** Drain [[rateAnomalyStream]] — the anomaly monitor's
    * train-batch/serve-stream loop under the batch twin's oracle:
    * statistics trained offline on the full history
    * ([[graft.operators.EventOps.rateStats]]) score the SAME events
    * replayed as a live stream, so the drained windows must equal
    * the batch [[graft.operators.EventOps.rateAnomaly]] row for row.
    * Same ts-ordered replay + watermark-flush sentinel mechanics as
    * [[drainSessionCounts]]; the sentinel's own window joins no
    * stats row (its type is not in the trained relation), so the
    * inner broadcast join drops it from the output by construction. */
  def drainRateAnomaly(events: DataFrame,
      stats: Seq[(String, Long, Long, Long)],
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("ts"), col("event_type"), col("value"))
      .withColumn("__ord", unix_micros(col("ts")))
    val maxUs = slim.agg(max(col("__ord"))).head().getLong(0)
    val sentinel = Seq(("__watermark_sentinel__", 0.0d, maxUs + YearUs))
      .toDF("event_type", "value", "__ord")
      .select(timestamp_micros(col("__ord")).as("ts"),
        col("event_type"), col("value"), col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(rateAnomalyStream(stream.drop("__ord"), stats,
        windowDur, Some(watermarkDelay)), "graft_anomaly_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy("event_type", "w_start")
  }

  /** Drain [[heavyHittersStream]] over a doc-id-chunked replay of the
    * corpus and explode the final Misra–Gries summary into (word,
    * cnt) rows — the streaming heavy-hitters serve face under the
    * batch [[graft.operators.WordCount.heavyHitters]] oracle. Runs in
    * COMPLETE mode (a global aggregation has no watermark to emit
    * by), which is exactly the regime the MG summary exists for: the
    * sink receives `capacity` entries per trigger no matter how long
    * the stream ran. In the exact regime (capacity > distinct words —
    * the harness setting) the drained summary equals the exact
    * frequency relation, so the oracle answer-checks it fully. */
  def drainHeavyHitters(docs: DataFrame, capacity: Int = 1024,
      nBatches: Int = 3): DataFrame = {
    // assert the EXACT regime up front: the shared batch oracle only
    // answer-checks the drained summary while every distinct word fits
    // in the MG capacity — past that the summary turns approximate BY
    // DESIGN and an oracle mismatch would point at the stream, not the
    // regime. The distinct count is one cheap aggregation at drain
    // (harness) scale.
    val nDistinct = docs
      .select(Tokenizer.explodeTokens(col("text")).as("word"))
      .filter(length(col("word")) > 0)
      .agg(countDistinct(col("word"))).head().getLong(0)
    require(nDistinct <= capacity,
      s"drainHeavyHitters: $nDistinct distinct words > capacity=" +
        s"$capacity — the Misra–Gries summary is in its " +
        "approximate regime and the exact-frequency oracle no longer " +
        "applies; raise capacity or drop the oracle row")
    val (stream, tmp) = replayForDrain(
      docs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    val out =
      try drainComplete(
        heavyHittersStream(stream, capacity, textCol = "text"),
        "graft_hh_drain")
      finally tmp.foreach(deleteReplayDir)
    out.select(explode(col("top")).as("e"))
      .select(col("e.word").as("word"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
  }

  /** Drain [[decayedCountsStream]] — the recency-weighted activity
    * serve face under the batch twin's oracle. The stream runs in
    * UPDATE mode (mapGroupsWithState emits every touched type each
    * micro-batch), so the drain goes through foreachBatch and keeps
    * each type's LAST emission — the full-histogram answer (a type
    * the final batch did not touch already emitted over all its
    * events; per-batch output is |types| rows, driver-bounded).
    * Reference day = the table's global max epoch day via `asOfDay`,
    * so the drained staircase equals
    * [[graft.operators.EventOps.decayedCounts]] bit for bit and the
    * harness query shares q_events_decay's oracle verbatim. No
    * watermark and no sentinel: the staircase is an order-free fold
    * of the day histogram, so any replay chunking drains exact. */
  def drainDecayedCounts(events: DataFrame, halfLifeDays: Int = 7,
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("event_id"), col("event_type"),
      col("ts"))
    val dMax = events
      .agg(max(expr(EventOps.epochDaySql("ts")))).head().getLong(0)
    val (stream, tmp) = replayForDrain(slim, "event_id", nBatches)
    val buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, DecayCount)]
    try {
      runDrain(spark, decayedCountsStream(stream, halfLifeDays,
          asOfDay = Some(dMax))
        .writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch { (ds: Dataset[DecayCount], batchId: Long) =>
          val rows = ds.collect() // |types| rows per batch — bounded
          buf.synchronized { rows.foreach(r => buf += ((batchId, r))) }
        })
    } finally tmp.foreach(deleteReplayDir)
    val finals = buf.synchronized {
      buf.groupBy(_._2.event_type).values.map(_.maxBy(_._1)._2).toSeq
    }
    finals.toDF().orderBy("event_type")
  }

  /** Drain [[valueOutlierFlags]] — the trained-fence value gate
    * (train-batch/serve-stream) under a DuckDB oracle at the FLAG
    * level: the integer Tukey fences train offline on the full
    * history ([[graft.operators.EventOps.valueFences]]), the same
    * events replay as a live stream, and the flagged set must be
    * exactly the rows the batch long-vs-long compare flags.
    * Stateless append — no watermark, no sentinel; a per-row gate is
    * arrival-order-free. */
  def drainValueOutlierFlags(events: DataFrame, kE2: Long = 150L,
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val fences = EventOps.valueFences(events, kE2)
      .as[(String, Long, Long)].collect().toSeq
    val slim = events.select(col("event_id"), col("event_type"),
      col("value"))
    val (stream, tmp) = replayForDrain(slim, "event_id", nBatches)
    val out =
      try drain(valueOutlierFlags(stream, fences), "graft_flags_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy("event_id")
  }

  /** Drain [[qualityGateStream]] — per-source calibrated curation
    * served over a document stream, under a DuckDB oracle at the
    * PER-DOC level. The trained |sources|-row threshold relation is
    * collected to a LocalRelation first (the serving-model
    * convention — joining the stream against the full training PLAN
    * would re-run the calibration window every micro-batch), then
    * broadcast per batch. Stateless append. */
  def drainQualityGate(docs: DataFrame, thresholds: DataFrame,
      nBatches: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val thrPlan = thresholds.select(col("source"), col("thr"))
    val thrLocal = spark.createDataFrame(
      java.util.Arrays.asList(thrPlan.collect(): _*), thrPlan.schema)
    val slim = docs.select(col("doc_id"), col("source"), col("text"))
    val (stream, tmp) = replayForDrain(slim, "doc_id", nBatches)
    val out =
      try drain(qualityGateStream(stream, thrLocal), "graft_qgate_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy("doc_id")
  }

  /** Drain [[nbScoreStream]] — the trained NB probe served over a
    * document stream, under a DuckDB oracle at the PER-DOC score
    * level (q_probe_eval answers at the confusion-matrix level; this
    * face pins every served score). The model relation collapses to
    * driver literals via
    * [[graft.operators.CorpusOps.nbServingModel]] — scoring is a
    * stateless codegen'd map, so the drain is a plain append
    * replay. */
  def drainNbScores(docs: DataFrame, model: DataFrame,
      nBatches: Int = 3): DataFrame = {
    val (w, bias) = graft.operators.CorpusOps.nbServingModel(model)
    val slim = docs.select(col("doc_id"), col("text"))
    val (stream, tmp) = replayForDrain(slim, "doc_id", nBatches)
    val out =
      try drain(nbScoreStream(stream, w, bias), "graft_nb_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy("doc_id")
  }

  /** Drain the REFERENCE pipeline's streaming form
    * ([[wordCountStream]] — S1→T2→A3/X4 of SURVEY §2, incremental) in
    * COMPLETE mode: the final emission IS the corpus frequency
    * relation, so the drained stream shares q_wordcount_freq's oracle
    * (tie-break refinement included: cnt DESC, word ASC).
    * Complete-mode state is vocabulary-sized — the documented
    * contrast with the Misra–Gries drain ([[drainHeavyHitters]]);
    * exact answers need exact state. */
  def drainWordCount(docs: DataFrame, nBatches: Int = 3): DataFrame = {
    val (stream, tmp) = replayForDrain(
      docs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    val out =
      try drainComplete(wordCountStream(stream, textCol = "text"),
        "graft_wc_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy(col("cnt").desc, col("word").asc)
  }

  /** Drain the watermarked streaming [[windowedCounts]] — the very
    * first streaming face this engine grew, under the batch tumbling
    * oracle: ts-ordered replay + watermark-flush sentinel (the
    * [[drainSessionCounts]] mechanics) emits every real hourly
    * window; the sentinel's own far-future window stays behind the
    * watermark and its type is filtered defensively. */
  def drainWindowedCounts(events: DataFrame,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("ts"), col("event_type"), col("value"))
      .withColumn("__ord", unix_micros(col("ts")))
    val maxUs = slim.agg(max(col("__ord"))).head().getLong(0)
    val sentinel =
      Seq(("__watermark_sentinel__", 0.0d, maxUs + YearUs))
        .toDF("event_type", "value", "__ord")
        .select(timestamp_micros(col("__ord")).as("ts"),
          col("event_type"), col("value"), col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(windowedCounts(stream.drop("__ord"), windowDur,
        Some(watermarkDelay)), "graft_window_drain")
      finally tmp.foreach(deleteReplayDir)
    out.filter(col("event_type") =!= "__watermark_sentinel__")
      .orderBy("w_start", "event_type")
  }

  /** Drain the CUSTOM-state sessionizer [[userSessions]]
    * (flatMapGroupsWithState + event-time timeout) under the SAME
    * gaps-and-islands oracle as the built-in session_window drain
    * ([[drainSessionCounts]]) — one answer, three execution models:
    * batch, built-in streaming session state, hand-rolled streaming
    * state. Same slim + sentinel as the built-in drain, so the two
    * share one cached replay directory. */
  def drainUserSessions(events: DataFrame, gapMinutes: Long = 30,
      watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val slim = events.select(col("user_id"), col("ts"))
      .withColumn("__ord", unix_micros(col("ts")))
    val maxUs = slim.agg(max(col("__ord"))).head().getLong(0)
    val sentinel = Seq((-1L, maxUs + YearUs)).toDF("user_id", "__ord")
      .select(col("user_id"), timestamp_micros(col("__ord")).as("ts"),
        col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(userSessions(stream.drop("__ord"), gapMinutes,
        watermarkDelay).toDF(), "graft_usersess_drain")
      finally tmp.foreach(deleteReplayDir)
    out.filter(col("user_id") =!= -1L).orderBy("user_id", "s_start")
  }

  /** The (user_id, ts, event_id, event_type, __ord µs) replay slim +
    * max event-time the three event-stream drains below share. */
  private def eventReplaySlim(events: DataFrame): (DataFrame, Long) = {
    val slim = events.select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"))
      .withColumn("__ord", unix_micros(col("ts")))
    (slim, slim.agg(max(col("__ord"))).head().getLong(0))
  }

  /** Drain [[typeTransitionsStream]] and aggregate the emitted edges
    * into the |types|² transition matrix — the streaming Markov miner
    * under the SAME oracle as the batch
    * [[graft.operators.EventOps.typeTransitions]]. Mechanics are the
    * [[drainSessionCounts]] convention: event-time-ordered replay +
    * one watermark-flush sentinel (user −1) as its own final
    * micro-batch, whose closing no-data batch advances the watermark
    * past every real event so each user's pending buffer finalizes
    * and emits its chain (the sentinel's own single-event chain has
    * no transitions; its user is filtered defensively anyway). */
  def drainTypeTransitions(events: DataFrame,
      watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (slim, maxUs) = eventReplaySlim(events)
    val sentinel =
      Seq((-1L, maxUs + YearUs, -1L, "__watermark_sentinel__"))
        .toDF("user_id", "__ord", "event_id", "event_type")
        .select(col("user_id"), timestamp_micros(col("__ord")).as("ts"),
          col("event_id"), col("event_type"), col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(
        typeTransitionsStream(stream.drop("__ord"), watermarkDelay)
          .toDF(), "graft_trans_drain")
      finally tmp.foreach(deleteReplayDir)
    out.filter(col("user_id") =!= -1L)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Drain the stream-STREAM interval join [[purchaseAttribution]] —
    * the first stream-stream face under a DuckDB oracle (shared with
    * the batch [[graft.operators.EventOps.purchaseAttribution]]). No
    * sentinel: an INNER stream-stream join emits a match in the
    * micro-batch where its second side arrives — nothing waits for
    * the watermark. The replay is still event-time-ordered, which is
    * what makes the watermark STATE EVICTION safe by construction: a
    * click leaves state only once the watermark proves no future
    * purchase can reach back to it (c_ts < wm − window ≤ p_ts −
    * window for every still-possible p). */
  def drainPurchaseAttribution(events: DataFrame,
      window: String = "1 hour", watermarkDelay: String = "2 hours",
      nBatches: Int = 3): DataFrame = {
    val (slim, _) = eventReplaySlim(events)
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches)
    val out =
      try drain(
        purchaseAttribution(stream.drop("__ord"), window,
          watermarkDelay), "graft_attrib_drain")
      finally tmp.foreach(deleteReplayDir)
    out.orderBy("purchase_id", "click_id")
  }

  /** Drain [[asofEnrichStream]] — the custom two-sided-state as-of
    * join under the SAME oracle as the batch
    * [[graft.operators.AsofJoin.eventAsof]] (DuckDB's native ASOF
    * LEFT JOIN). The watermark-flush sentinel is a REFERENCE-side
    * event (user −1): it must survive the isin(queryType, refType)
    * filter to advance the watermark, and a reference row emits
    * nothing itself — it parks in user −1's state while its no-data
    * batch pushes the watermark strictly past every real query row,
    * so each pending query emits its match (or its null — LEFT
    * semantics). */
  def drainAsofEnrich(events: DataFrame,
      queryType: String = "purchase", refType: String = "click",
      watermarkDelay: String = "1 hour",
      nBatches: Int = 3): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val (slim, maxUs) = eventReplaySlim(events)
    val sentinel = Seq((-1L, maxUs + YearUs, -1L, refType))
      .toDF("user_id", "__ord", "event_id", "event_type")
      .select(col("user_id"), timestamp_micros(col("__ord")).as("ts"),
        col("event_id"), col("event_type"), col("__ord"))
    val (stream, tmp) = replayForDrain(slim, "__ord", nBatches,
      tail = Some(sentinel))
    val out =
      try drain(
        asofEnrichStream(stream.drop("__ord"), queryType, refType,
          watermarkDelay).toDF(), "graft_asof_drain")
      finally tmp.foreach(deleteReplayDir)
    out.filter(col("user_id") =!= -1L).orderBy("ev_id")
  }

  /** Stream-static incremental NEAR-dup: streamed documents probe the
    * base corpus's minhash band index ([[graft.operators.Dedup
    * .bandBuckets]] — the materialize-once relation a 100 TB corpus
    * keeps next to itself) and candidates are exact-Jaccard-verified
    * against the base shingle sets. Same semantics as the batch
    * [[graft.operators.Dedup.incrementalNearDupPairs]], which
    * StreamingSpec pins across micro-batches.
    *
    * The streamed side computes its minhash signature as a PURE
    * PROJECTION — `array_min` over the transformed shingle array,
    * value-identical to the batch min-aggregate (same `xxhash64(s, i)`
    * per shingle, min over the same values) — because a streaming
    * aggregation would buffer rows until a watermark closes, while a
    * projection emits in the arriving micro-batch with no state at
    * all. Band hashes reuse the batch formula over the projected
    * mins. The only state in the whole query is the terminal
    * `dropDuplicates` collapsing multi-band hits of the SAME verified
    * pair — bounded by true near-dup output, not candidate volume
    * (each pair can only ever arrive in its document's one batch).
    * The shingle array rides the 16-band fan-out inside one codegen
    * stage; the static index and shingle relations are
    * `localCheckpoint`ed so they are not re-derived per micro-batch. */
  def incrementalNearDupStream(docs: DataFrame, base: DataFrame,
      n: Int = 3, threshold: Double = 0.8, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    import graft.operators.Dedup
    // both static relations pre-partition + sort on their JOIN keys
    // before the eager checkpoint: LogicalRDD carries the physical
    // partitioning/ordering, so every micro-batch's probe and verify
    // joins reuse the materialized layout instead of re-exchanging
    // the base corpus per batch (the 100x rehearsal's superlinear
    // wall — 8 multi-GB static-side shuffles per drained query)
    val baseSets = graft.operators.CheckpointScope.checkpointed(
      Dedup.shingleSets(base, n)
        .toDF("doc_base", "sh_base")
        .repartition(col("doc_base")).sortWithinPartitions("doc_base"))
    val baseIdx = graft.operators.CheckpointScope.checkpointed(
      Dedup.bandBuckets(
          Dedup.minhashSignatures(
            baseSets.toDF("doc_id", "sh"), numHashes),
          numHashes, bands)
        .groupBy("band", "bucket")
        .agg(collect_list("doc_id").as("base_ds"))
        .filter(size(col("base_ds")) <= maxBucket)
        .repartition(col("band"), col("bucket"))
        .sortWithinPartitions("band", "bucket"))
    val sh = docs
      .select(col("doc_id").as("doc_batch"),
        array_distinct(graft.functions.TextAnalysis
          .shingles(col("text"), n)).as("sh_batch"))
      .filter(size(col("sh_batch")) > 0)
    val mins = array((0 until numHashes).map(i =>
      array_min(transform(col("sh_batch"),
        s => xxhash64(s, lit(i))))): _*)
    sh
      .withColumn("m", mins)
      .select(col("doc_batch"), col("sh_batch"),
        posexplode(array((0 until bands).map { j =>
          xxhash64((j * r until (j + 1) * r)
            .map(i => element_at(col("m"), i + 1)) :+ lit(j): _*)
        }: _*)))
      .toDF("doc_batch", "sh_batch", "band", "bucket")
      .join(baseIdx, Seq("band", "bucket"))
      .select(col("doc_batch"), col("sh_batch"),
        explode(col("base_ds")).as("doc_base"))
      .join(baseSets, "doc_base")
      .withColumn("jaccard",
        size(array_intersect(col("sh_base"), col("sh_batch")))
          .cast("double") /
          size(array_union(col("sh_base"), col("sh_batch"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_batch"), col("doc_base"),
        round(col("jaccard"), 4).as("jaccard"))
      .dropDuplicates("doc_batch", "doc_base")
  }

  /** Stream-static incremental SIMHASH near-dup — the simhash face of
    * the streaming ingest family next to [[incrementalDedupStream]]
    * (exact), [[incrementalNearDupStream]] (minhash), and
    * [[incrementalEmbeddingStream]] (SRP): arriving documents
    * fingerprint via the stateless
    * [[graft.operators.Dedup.simhashProjection]] (value-identical to
    * the batch aggregate — no state, no watermark), band keys fan out
    * as literal-shift projections, and the static base band index —
    * the same materialize-once relation the batch probe reads — joins
    * stream-static with an exact-Hamming verify. The only state is
    * the terminal multi-band dedup, bounded by true output volume.
    * StreamingSpec pins the drained stream equal to
    * [[graft.operators.Dedup.incrementalSimhashPairs]] row-for-row. */
  def incrementalSimhashStream(docs: DataFrame, base: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 65535): DataFrame = {
    import graft.operators.Dedup
    // static side: the SAME materialize-once index the batch face
    // probes, eager-checkpointed pre-partitioned/sorted on the probe
    // key so micro-batches re-read the blocks WITHOUT re-exchanging
    // them (the incrementalDedupStream discipline)
    val baseIdx = graft.operators.CheckpointScope.checkpointed(
      Dedup.simhashBandIndex(base, maxBucket)
        .repartition(col("band"), col("key"))
        .sortWithinPartitions("band", "key"))
    val batchBanded = docs
      .filter(graft.functions.TextAnalysis.tokenCountWs(col("text")) > 0)
      .select(col("doc_id").as("doc_batch"),
        Dedup.simhashProjection(col("text")).as("sh_batch"))
      .select(col("doc_batch"), col("sh_batch"),
        posexplode(Dedup.simhashBandCols(col("sh_batch"))))
      .toDF("doc_batch", "sh_batch", "band", "key")
    Dedup.simhashProbe(batchBanded, baseIdx, maxHamming)
      .dropDuplicates("doc_batch", "doc_base")
  }

  /** Serve a batch-trained Naive Bayes quality model over a document
    * STREAM (the train-batch/serve-stream loop: the model relation
    * from [[graft.operators.CorpusOps.trainNaiveBayes]] collapses to
    * a literal map via `nbServingModel`, and scoring is the same
    * all-integer column used in batch — a stateless map, so there is
    * no state store, no watermark, and append mode just works;
    * identical rows to the batch scorer by construction, which
    * StreamingSpec pins across micro-batches). */
  def nbScoreStream(docs: DataFrame, weights: Map[Long, Long],
      biasInt: Long, dim: Int = 64): DataFrame =
    docs.select(col("doc_id"),
      graft.operators.CorpusOps.nbScoreColumn(col("text"), weights,
        biasInt, dim).as("s_int"))
      .select(col("doc_id"), col("s_int"),
        (col("s_int") > 0).as("flagged"))

  /** Serve batch-trained rate statistics over STREAMING window counts
    * — the anomaly monitor's train-batch/serve-stream loop: the
    * per-type (windows, Σx, Σx²) relation from
    * [[graft.operators.EventOps.rateStats]] (|types| rows, collected
    * once from history) joins the live windowed aggregation
    * stream-static, and the z-score is the SAME shared arithmetic as
    * the batch form ([[graft.operators.EventOps.anomalyScore]]) — so
    * a drained stream scores its windows exactly as the batch scorer
    * would against the same history (StreamingSpec pins it). The
    * static side is a literal broadcast relation; the only streaming
    * state is the windowed count's own, watermark-bounded as usual. */
  def rateAnomalyStream(events: DataFrame,
      stats: Seq[(String, Long, Long, Long)],
      windowDur: String = "1 hour",
      watermark: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val statsDf = stats.toDF("event_type", "nw", "s1", "s2")
    val counted = windowedCounts(events, windowDur, watermark)
      .select(col("w_start"), col("event_type"), col("n_events"))
    val (mean, z) = EventOps.anomalyScore(col("n_events"),
      col("nw"), col("s1"), col("s2"))
    counted.join(broadcast(statsDf), "event_type")
      .select(col("event_type"), col("w_start"), col("n_events"),
        mean.as("mean_events"), z.as("z"))
  }

  /** Streaming face of
    * [[graft.operators.Dedup.incrementalEmbeddingNearDup]] — semantic
    * dedup's per-INGEST mode with the ingest as a live stream: the
    * base corpus's vectors and its SRP (t, bucket → id-list) index
    * are static eager checkpoints (a deployment READS the
    * materialized index), and each arriving vector's bucket codes are
    * a pure codegen'd projection (srpBucketsAll — no aggregation, so
    * append mode needs no watermark), probed via stream-static joins
    * and verified with the exact cosine. The only streaming state is
    * the across-tables candidate dedup, bounded by output volume
    * (the [[incrementalNearDupStream]] argument). */
  def incrementalEmbeddingStream(vectors: DataFrame, base: DataFrame,
      threshold: Double, nPlanes: Int = 16, nTables: Int = 32,
      dim: Int = 64, seed: Long = 42L, maxBucket: Int = 10000,
      planes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    import graft.functions.Vectors
    planes.foreach(ts => require(
      ts.nonEmpty && ts.forall(_.length == ts.head.length),
      "injected tables must share one plane count"))
    val tables = planes.getOrElse((0 until nTables)
      .map(t => graft.operators.Similarity.hyperplanes(nPlanes, dim,
        seed + t)))
    // pre-partitioned/sorted on the join keys before the eager
    // checkpoint (the incrementalDedupStream discipline): per-batch
    // probe and verify joins reuse the materialized layout
    val baseV = graft.operators.CheckpointScope.checkpointed(
      base.select(col("vec_id").as("vec_base"),
          Vectors.toDoubleVec(col("embedding")).as("vb"))
        .repartition(col("vec_base")).sortWithinPartitions("vec_base"))
    val baseIdx = graft.operators.CheckpointScope.checkpointed(
      baseV
        .select(col("vec_base"),
          posexplode(Vectors.srpBucketsAll(col("vb"), tables)))
        .toDF("vec_base", "t", "bucket")
        .groupBy("t", "bucket")
        .agg(collect_list("vec_base").as("base_ds"))
        .filter(size(col("base_ds")) <= maxBucket)
        .repartition(col("t"), col("bucket"))
        .sortWithinPartitions("t", "bucket"))
    val cos = Vectors.dot(col("vq"), col("vb")) /
      (sqrt(Vectors.normSq(col("vq"))) * sqrt(Vectors.normSq(col("vb"))))
    vectors
      .select(col("vec_id").as("vec_batch"),
        Vectors.toDoubleVec(col("embedding")).as("vq"))
      .select(col("vec_batch"), col("vq"),
        posexplode(Vectors.srpBucketsAll(col("vq"), tables)))
      .toDF("vec_batch", "vq", "t", "bucket")
      .join(baseIdx, Seq("t", "bucket"))
      .select(col("vec_batch"), col("vq"),
        explode(col("base_ds")).as("vec_base"))
      .join(baseV, "vec_base")
      .withColumn("cos", cos)
      .filter(col("cos") >= threshold)
      .select(col("vec_batch"), col("vec_base"),
        round(col("cos"), 4).as("cos"))
      .dropDuplicates("vec_batch", "vec_base")
  }

  /** Streaming face of [[graft.operators.EventOps.valueOutliers]] —
    * the serve step of the train-batch/serve-stream loop
    * ([[rateAnomalyStream]]'s model): the integer Tukey fences are
    * TRAINED offline ([[graft.operators.EventOps.valueFences]],
    * collected to |types| rows) and served broadcast over live
    * events; each arriving value is flagged by the SAME long-vs-long
    * compare (400·v_e4 vs fence) the batch gate runs, so batch and
    * stream agree bit-for-bit on every flag. Stateless map — append
    * mode, no watermark, no state store; at any rate the per-event
    * cost is one quantize + one broadcast-hash probe. */
  def valueOutlierFlags(events: DataFrame,
      fences: Seq[(String, Long, Long)]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val f = fences.toDF("event_type", "lo400", "hi400")
    events
      .select(col("event_id"), col("event_type"), col("value"),
        floor(col("value") * lit(10000d) + lit(0.5)).cast("long")
          .as("v_e4"))
      .join(broadcast(f), "event_type")
      .filter(col("v_e4") * lit(400L) < col("lo400") ||
        col("v_e4") * lit(400L) > col("hi400"))
      .select(col("event_id"), col("event_type"), col("value"))
  }

  /** Stream-stream interval join: purchases attributed to same-user
    * clicks in the preceding `window`, incrementally. Watermarks bound
    * BOTH sides' join state — clicks older than watermark - window can
    * never match a future purchase and are evicted; inner-join matches
    * emit as soon as both rows arrive (append mode). Identical join
    * predicate to the batch [[graft.operators.EventOps
    * .purchaseAttribution]], which StreamingSpec pins as its oracle. */
  def purchaseAttribution(events: DataFrame, window: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    EventOps.attributionJoin(
      EventOps.attributionPurchases(events)
        .withWatermark("p_ts", watermarkDelay),
      EventOps.attributionClicks(events)
        .withWatermark("c_ts", watermarkDelay),
      window)

  /** Custom arbitrary state via `mapGroupsWithState`: per-user running
    * event totals carried across micro-batches. Run with
    * [[OutputMode.Update]] — each trigger emits only the users whose
    * totals changed. State is one long per user: at 10^9 users that is
    * GBs spread over the state store, partitioned by the groupBy key
    * like any shuffle. */
  def userRunningCounts(events: DataFrame): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, UserCount](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          UserCount(user, n)
      }
  }

  /** Streaming face of [[graft.operators.EventOps.decayedCounts]]:
    * per-type recency-weighted activity, updated each micro-batch.
    * The state is NOT the decayed sum (a float sum could never be
    * re-referenced exactly) but the event-count histogram per
    * epoch-day — the sufficient statistic for the integer staircase:
    * on every emission the batch formula (k = epoch-day age DIV
    * halfLife clamped at 50, weight 2^(50-k), exact BigInt sum, one
    * integer divide) recomputes from the histogram, referenced to the
    * TYPE'S own newest event day (a stream has no global max ts; the
    * batch twin uses the table's — the ONLY remaining batch/stream
    * difference: ages are epoch-day-bucket differences on BOTH sides,
    * so the histogram is a true sufficient statistic for the batch
    * formula). State is bounded: days older than 50
    * half-lives collapse into one `ancient` bucket whose clamped
    * weight is exactly theirs anyway, so compaction is LOSSLESS —
    * ≤ 50·halfLife day entries per type, forever. StreamingSpec pins
    * the emitted values against a plain-Scala witness after each
    * micro-batch cut.
    *
    * `asOfDay`: optional FIXED reference epoch day — a deployment
    * scoring "as of now" passes the current day, and the reference
    * becomes max(asOfDay, type's newest event day) so it stays
    * monotone if an even newer event lands. This is also what makes
    * the drained harness face share the batch oracle exactly: with
    * asOfDay = the table's global max day, every type decays against
    * the SAME reference the batch twin uses, closing the documented
    * per-type-vs-global difference. Default None keeps the
    * self-referenced semantics. */
  def decayedCountsStream(events: DataFrame,
      halfLifeDays: Int = 7,
      asOfDay: Option[Long] = None): Dataset[DecayCount] = {
    require(halfLifeDays >= 1)
    import events.sparkSession.implicits._
    val h = halfLifeDays.toLong
    events
      .select(col("event_type"),
        // the floor-correct epoch-day bucket batch uses — keeps the
        // day-histogram state aligned with EventOps.decayedCounts on
        // pre-1970 timestamps too
        expr(EventOps.epochDaySql("ts")).as("day"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[DecayState, DecayCount](
        GroupStateTimeout.NoTimeout) {
        (tp: String, rows: Iterator[(String, Long)],
            state: GroupState[DecayState]) =>
          val st = state.getOption.getOrElse(DecayState(Map.empty, 0L))
          var days = st.days
          rows.foreach { case (_, d) =>
            days = days.updated(d, days.getOrElse(d, 0L) + 1L) }
          val ref = asOfDay.fold(days.keys.max)(_ max days.keys.max)
          val (keep, old) = days.partition {
            case (d, _) => (ref - d) / h < 50L }
          val ancient = st.ancient + old.values.sum
          state.update(DecayState(keep, ancient))
          val n = keep.values.sum + ancient
          val sumScaled = keep.iterator.map { case (d, c) =>
            BigInt(c) << (50 - ((ref - d) / h).toInt)
          }.sum + BigInt(ancient) // clamp bucket: weight 2^(50-50)
          DecayCount(tp, n,
            (sumScaled * 1000000 / (BigInt(1) << 50)).toLong)
      }
  }

  /** Built-in merging session windows as a stream: the exact batch
    * aggregation body ([[EventOps.sessionCounts]]' unsorted form) run
    * incrementally — Spark's session-window state merges adjacent /
    * overlapping partial sessions across micro-batches, so late-but-
    * in-watermark events extend or bridge sessions exactly as a batch
    * recomputation would. The watermark bounds session state and lets
    * append sinks emit each session once no in-gap row can still
    * arrive. Reach for this first; [[userSessions]] below is the
    * custom-state template for semantics the built-in can't express. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    EventOps.sessionCountsUnsorted(
      events.withWatermark("ts", watermark), gap)

  /** Custom sessionization via `flatMapGroupsWithState` + event-time
    * timeout: semantics match the batch `session_window` gaps-and-
    * islands definition (session end = last event + gap). A session is
    * emitted when the watermark passes its end; still-open sessions
    * stay in state — exactly-once session output in append mode. The
    * built-in `session_window` covers the common case; this is the
    * template for state logic the built-ins can't express. */
  def userSessions(events: DataFrame, gapMinutes: Long = 30,
      watermarkDelay: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    // all state arithmetic in µs — java.sql.Timestamp.getTime would
    // floor to ms and drift from session_window's µs boundaries
    val gapUs = gapMinutes * 60000000L
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    def close(user: Long, s: SessionState): UserSession =
      UserSession(user, tsOf(s.start), tsOf(s.last + gapUs), s.n)

    // Insert one event into the gap-separated interval list (sorted by
    // start): extends a touched session in EITHER direction, and an
    // extension may bridge the session into its successors. Strict
    // < gap matches session_window's [start, last + gap) bound.
    def mergeForward(cur: SessionState,
        rest: List[SessionState]): List[SessionState] = rest match {
      case s :: tail if s.start - cur.last < gapUs =>
        mergeForward(
          SessionState(cur.start, cur.last max s.last, cur.n + s.n), tail)
      case _ => cur :: rest
    }
    def insert(ss: List[SessionState], t: Long): List[SessionState] = {
      val (before, after) = ss.span(s => s.last + gapUs <= t)
      after match {
        case s :: tail if t > s.start - gapUs =>
          // t touches the first not-strictly-before session (from the
          // left OR the right); the extension may bridge into tail
          before ::: mergeForward(
            SessionState(s.start min t, s.last max t, s.n + 1), tail)
        case _ =>
          before ::: SessionState(t, t, 1) :: after
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[(Long, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionState], UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Timestamp)],
            state: GroupState[List[SessionState]]) =>
          var sessions = state.getOption.getOrElse(Nil)
          rows.foreach { case (_, t, _) => sessions = insert(sessions, t) }
          // a session is emitted ONLY once the watermark passes its end
          // — an earlier-but-in-watermark event in a later micro-batch
          // may still extend or bridge anything younger than that
          // (Spark drops sub-watermark rows before they reach us)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = sessions.partition(s => s.last + gapUs <= wmUs)
          if (open.nonEmpty) {
            state.update(open)
            val fireMs = (open.map(_.last + gapUs).min / 1000L) max
              (state.getCurrentWatermarkMs() + 1L)
            state.setTimeoutTimestamp(fireMs)
          } else state.remove()
          closed.sortBy(_.start).map(close(user, _)).iterator
      }
  }

  /** Streaming as-of enrichment: each `queryType` event joined to the
    * same user's most recent `refType` event at-or-before it — the
    * incremental form of [[graft.operators.AsofJoin.eventAsof]]
    * (stream-stream as-of is not a built-in: the built-in
    * stream-stream join needs a bounded interval condition, while
    * as-of needs "latest ≤ t", which is state, not a range).
    *
    * Out-of-order-safe within the watermark by BUFFERING both sides
    * per key and emitting a query row only once the watermark passes
    * STRICTLY beyond its event time: any reference row that could
    * still change its match (ref_ts ≤ ev_ts < watermark) would be
    * sub-watermark on arrival, and Spark drops those before they
    * reach the state function. A naive latest-value cache (enrich on
    * sight) returns whichever reference happened to arrive first —
    * the spec pins the fixture where that answer is wrong.
    *
    * Matching mirrors the batch operator exactly: ties at equal time
    * include the reference (rt == lt matches), and equal-time
    * reference rows resolve to the max event id (the batch path's
    * max-payload-struct tie-break). gap_us = ev_ts − asof_ts in whole
    * µs, the same exact-integer surface as the batch query.
    *
    * State per key is bounded by the watermark: pending query rows and
    * reference rows younger than the watermark, plus ONE carry
    * reference (the latest at-or-before the watermark — still the
    * answer for future queries until a younger reference lands).
    * Emission is driven by new batches AND an event-time timeout, so
    * pending rows drain when the key goes quiet. */
  /** Streaming user-journey transition mining — the incremental form
    * of [[graft.operators.EventOps.typeTransitions]]: per user,
    * consecutive event pairs in the (ts, event_id) total order, each
    * pair emitted exactly once (append mode). Out-of-order-SAFE: an
    * event's outgoing edge is only known once no earlier-timestamped
    * event can still arrive, so events buffer per user until the
    * watermark passes them; finalized events emit their chain in
    * order, and the LAST final event carries forward as the "from"
    * side of the next emission (its successor is still unknown —
    * exactly the reason a naive lead()-per-batch is wrong under
    * out-of-order arrival). Event-time timeout drains quiet users.
    * State per user: the pending buffer (bounded by the watermark
    * delay × arrival rate) plus one carried event. The spec pins the
    * emitted pairs against the batch operator, including a fixture
    * whose batch-2 event lands BETWEEN batch-1 events. */
  def typeTransitionsStream(events: DataFrame,
      watermarkDelay: String = "1 hour"): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, Long, String, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Timestamp)],
            state: GroupState[TransState]) =>
          val st = state.getOption.getOrElse(TransState(Nil, None))
          var buf = st.buf
          rows.foreach { case (_, us, id, tp, _) => buf = (us, id, tp) :: buf }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (fin, pending) = buf.sortBy(e => (e._1, e._2))
            .partition(_._1 < wmUs)
          val chain = st.carry.toList ::: fin
          val out = chain.sliding(2).collect {
            case List(a, b) => Transition(user, a._2, b._2, a._3, b._3)
          }.toList
          val carry = chain.lastOption
          if (pending.isEmpty && carry.isEmpty) state.remove()
          else {
            state.update(TransState(pending, carry))
            if (pending.nonEmpty) {
              val fireMs = (pending.map(_._1).min / 1000L + 1L) max
                (state.getCurrentWatermarkMs() + 1L)
              state.setTimeoutTimestamp(fireMs)
            }
          }
          out.iterator
      }
  }

  def asofEnrichStream(events: DataFrame, queryType: String = "purchase",
      refType: String = "click",
      watermarkDelay: String = "1 hour"): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    // keep rights sorted by (ts, id): "last right with rt <= lt" then
    // resolves equal-time ties to the max id, matching the batch
    // window's max(struct(r_id, r_ts)) choice
    def insertRight(rs: List[(Long, Long)], t: Long,
        id: Long): List[(Long, Long)] = {
      val (before, after) =
        rs.span(r => r._1 < t || (r._1 == t && r._2 <= id))
      before ::: (t, id) :: after
    }
    events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin(queryType, refType))
      // the watermark-annotated `ts` column must survive into the
      // grouped input — event-time timeout resolves against it
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === queryType).as("is_q"), col("event_id"),
        col("ts"))
      .as[(Long, Long, Boolean, Long, Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Boolean, Long, Timestamp)],
            state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, Nil))
          var lefts = st.lefts
          var rights = st.rights
          rows.foreach { case (_, t, isQ, id, _) =>
            if (isQ) lefts = (t, id) :: lefts
            else rights = insertRight(rights, t, id)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = lefts.partition(_._1 < wmUs)
          val out = ready.sortBy(identity).map { case (lt, id) =>
            val m = rights.takeWhile(_._1 <= lt).lastOption
            AsofMatch(id, user, tsOf(lt), m.map(_._2), m.map(r => tsOf(r._1)),
              m.map(lt - _._1))
          }
          // prune: every emitted left goes; of the references at-or-
          // before the watermark only the LATEST can still be an
          // answer (pending/future queries all have ev_ts >= wm)
          val (past, fresh) = rights.partition(_._1 <= wmUs)
          val kept = past.lastOption.toList ::: fresh
          if (pending.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofState(pending, kept))
            if (pending.nonEmpty) {
              val fireMs = (pending.map(_._1).min / 1000L + 1L) max
                (state.getCurrentWatermarkMs() + 1L)
              state.setTimeoutTimestamp(fireMs)
            }
          }
          out.iterator
      }
  }

  /** Calibrated quality gate served over a document STREAM — the
    * train-batch/serve-stream loop for per-source curation (the
    * [[valueOutlierFlags]] / [[nbScoreStream]] pattern): the batch
    * pass trains per-source thresholds
    * ([[graft.operators.CorpusOps.qualityThresholds]] — materialized
    * like any model relation), and arriving documents score with the
    * IDENTICAL shared arithmetic
    * ([[graft.operators.CorpusOps.qualityScoreE4]]) and gate on
    * `score >= thr` through a stream-static broadcast join. Stateless
    * append — no state store, no watermark.
    *
    * Serving semantics vs the batch selector: the batch keep is
    * top-fraction EXACT, so at the threshold score it admits only a
    * tie quota; a serving gate has no "fraction of the batch" to hold
    * new data against, so it admits the whole threshold score —
    * StreamingSpec pins that the flagged set contains every
    * batch-kept doc and differs only inside the threshold stratum.
    * Documents from sources absent at training carry a null `pass`
    * (no calibration exists — routing them is the caller's policy,
    * not a silent drop). */
  def qualityGateStream(docs: DataFrame, thresholds: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        graft.operators.CorpusOps.qualityScoreE4(col("text")).as("score"))
      .join(broadcast(thresholds.select(col("source"), col("thr"))),
        Seq("source"), "left")
      .select(col("doc_id"), col("source"), col("score"),
        (col("score") >= col("thr")).as("pass"))

  /** Evolving near-dup CLUSTER MAP under an edge stream — the
    * maintenance loop a deployment runs against its stored cluster
    * table: each arriving micro-batch of near-dup edges (from the
    * incremental probe operators upstream) folds into the map via
    * [[graft.operators.Clustering.incrementalCC]], never re-reading
    * historical edges. The map is the ONLY state, held as a rolling
    * localCheckpoint whose predecessor is unpersisted on every fold
    * (bounded executor storage — the [[graft.SparkEntry]] cache
    * eviction discipline); in production the same fold writes a
    * MERGE into the stored table instead.
    *
    * Folding is IDEMPOTENT: re-applying an already-folded edge batch
    * cannot change the partition (its endpoints' representatives are
    * already connected, so every quotient edge collapses to a self
    * loop) — which is exactly the property that makes the default
    * at-least-once `foreachBatch` delivery safe with no
    * transactional sink. StreamingSpec pins both faces: final map ==
    * from-scratch CC over all edges, and a double fold is a no-op. */
  final class ClusterMapState(initial: DataFrame) {
    @volatile private var map: DataFrame =
      initial.toDF("id", "cluster").localCheckpoint(true)
    // the map superseded by the LAST fold, kept alive one extra
    // generation: a caller holding a pre-fold `current` can still run
    // actions on it through the next fold; swept the fold after
    private var retired: Option[DataFrame] = None

    /** The current assignment (id, cluster) — read between folds. */
    def current: DataFrame = map

    /** Fold one micro-batch of (a, b) edges into the map.
      *
      * Bounded state across an unbounded stream: beyond the new map
      * itself, a fold transiently localCheckpoints several
      * intermediates (the contracted edges, the quotient labels, the
      * CC rounds) — pinned for the JVM lifetime unless released, so N
      * micro-batches would otherwise accumulate O(N) dead blocks.
      * The sweep releases exactly the RDD ids the fold's own
      * computation recorded via
      * [[graft.operators.CheckpointScope]] — never a diff of the
      * global persistent-RDD registry, so concurrent
      * checkpoint-creating work on a shared session keeps its blocks.
      * Superseded maps get one generation of grace (see `retired`)
      * before they are released. */
    def fold(batchEdges: DataFrame): Unit = synchronized {
      val sc = batchEdges.sparkSession.sparkContext
      val prev = map
      val noNodes = batchEdges.sparkSession.range(0).toDF("id")
      val (next, created) = graft.operators.CheckpointScope.collect {
        graft.operators.Clustering
          .incrementalCC(prev, batchEdges.toDF("a", "b"), noNodes)
          .localCheckpoint(true)
      }
      val keep = next.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      map = next
      def release(id: Int): Unit = sc.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false))
      // sweep the fold's own transient checkpoints
      (created.toSet -- keep).foreach(release)
      // release the map superseded TWO folds ago; retire this fold's
      val prevRetired = retired
      retired = Some(prev)
      prevRetired.foreach(_.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          release(lr.rdd.id)
      })
    }

    /** Release the final map's (and the retired generation's) pinned
      * blocks once a caller has copied the assignment off — the
      * harness drain's end-of-life hook. The state is dead after
      * this; `current` must not be acted on again. */
    def release(): Unit = synchronized {
      def rel(df: DataFrame): Unit =
        df.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.id
        }.foreach(id => df.sparkSession.sparkContext
          .getPersistentRDDs.get(id)
          .foreach(_.unpersist(blocking = false)))
      rel(map)
      retired.foreach(rel)
      retired = None
    }
  }

  /** Drain [[clusterMapStream]] — the evolving cluster-map
    * maintenance loop under the SAME from-scratch-closure oracle as
    * batch incremental CC (q_dedup_cc_incr): the base assignment
    * seeds a [[ClusterMapState]], the delta edge relation replays as
    * micro-batches, each batch folds via foreachBatch, and the final
    * map — plus the edgeless batch docs as singletons (a fold only
    * ever sees edge ENDPOINTS) — must equal the closure over ALL
    * pairs. Arrival order is irrelevant: connectivity is
    * partition-independent, and every fold keeps min-id labels
    * (each base representative is its part's minimum), so any
    * chunking of the edge set converges to the same map. The
    * state's pinned blocks are released once the assignment is
    * copied off. */
  def drainClusterMap(baseAssign: DataFrame, deltaEdges: DataFrame,
      newNodes: DataFrame, nBatches: Int = 3): DataFrame = {
    val spark = baseAssign.sparkSession
    // Empty delta: nothing to fold — the batch twin (q_dedup_cc_incr)
    // returns base map + singletons here, and replayAsMicroBatches
    // requires a non-empty relation, so match the twin instead of
    // failing loudly when no pair touched the delta window.
    if (deltaEdges.isEmpty) {
      val base = baseAssign.toDF("doc_id", "cluster")
      return base
        .unionByName(newNodes.toDF("doc_id")
          .join(base, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster")))
        .orderBy("doc_id")
    }
    val state = new ClusterMapState(baseAssign.toDF("id", "cluster"))
    val (stream, tmp) = replayForDrain(deltaEdges.toDF("a", "b"), "a",
      nBatches)
    try runDrain(spark, clusterMapStream(stream, state))
    finally tmp.foreach(deleteReplayDir)
    val m = state.current
    val folded = spark.createDataFrame(m.collectAsList(), m.schema)
      .toDF("doc_id", "cluster")
    state.release()
    folded
      .unionByName(newNodes.toDF("doc_id")
        .join(folded, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster")))
      .orderBy("doc_id")
  }

  /** REHEARSAL-ONLY corpus-scale shape of [[drainClusterMap]] (the
    * [[replayThroughCountSink]] convention): same replay + foreachBatch
    * fold loop, but the final map is COUNTED on the executors — a 100x
    * cluster map is corpus-sized and must never be collected; a
    * deployment MERGEs each fold into its stored table instead.
    * Returns (final map rows, persistent RDDs still pinned AFTER
    * release) — the second value is the block-accumulation check: the
    * rolling localCheckpoint must release every predecessor, so the
    * delta over the run's start should be 0. */
  private[graft] def rehearseClusterMapFold(baseAssign: DataFrame,
      deltaEdges: DataFrame, nBatches: Int = 3): (Long, Int) = {
    val spark = baseAssign.sparkSession
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val state = new ClusterMapState(baseAssign.toDF("id", "cluster"))
    val (stream, tmp) =
      replayAsMicroBatches(deltaEdges.toDF("a", "b"), "a", nBatches)
    try runDrain(spark, clusterMapStream(stream, state))
    finally deleteReplayDir(tmp)
    val n = state.current.count()
    state.release()
    (n, sc.getPersistentRDDs.size - before)
  }

  /** Wire an edge stream into a [[ClusterMapState]] — one
    * `foreachBatch` fold per micro-batch; run the returned writer
    * with [[runDrain]], then read `state.current`. */
  def clusterMapStream(edges: DataFrame, state: ClusterMapState):
      org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    edges.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch((batch: DataFrame, _: Long) => state.fold(batch))

  /** Maintain the stored positional index from a DOCUMENT stream —
    * [[drainClusterMap]]'s maintenance-loop shape applied to
    * [[graft.sources.PostingsStore]], and the deployment story of a
    * search index over a growing corpus: the base corpus builds v1
    * once (the lifecycle's one corpus read), the delta documents
    * replay as micro-batches, each batch folds in via
    * `refreshPostings` (an id-level O(index) merge — the base text is
    * never re-read, and each fold writes a NEW versioned table, so a
    * concurrent reader never sees a half-written index), and the FINAL
    * version serves the phrase query. Fold order is irrelevant (the
    * per-(term, doc_id) merge is chunking-independent) and refresh ==
    * rebuild exactly (nothing is capped out of a postings index), so
    * the served answer equals the corpus-scan operator over
    * base ∪ delta — q_phrase_search's oracle verbatim when the split
    * covers the whole corpus. */
  def drainPostingsMaintenance(baseDocs: DataFrame, deltaDocs: DataFrame,
      phrase: Seq[String], nBatches: Int = 3,
      buckets: Int = 8): DataFrame = {
    val spark = baseDocs.sparkSession
    // AtomicReference: folds run on the stream-execution thread and
    // the final handle is read back on this one — AvailableNow
    // serializes the folds themselves, but the cross-thread handoff
    // needs explicit publication (the ClusterMapState discipline)
    val idx = new java.util.concurrent.atomic.AtomicReference(
      graft.sources.PostingsStore.writePostings(baseDocs, buckets))
    // empty delta: nothing to fold — serve from v1, matching the batch
    // operator over base ∪ ∅ (replayForDrain requires non-empty rows)
    if (deltaDocs.isEmpty)
      return graft.sources.PostingsStore.phraseSearch(spark, idx.get,
        phrase)
    val (stream, tmp) = replayForDrain(
      deltaDocs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    try {
      // each fold's registry key chains on the predecessor table's
      // name, so bench re-runs that hit the replay-dir cache also
      // reuse the fold tables — the deployment cost model (an ingest
      // folds once; queries serve from storage)
      runDrain(spark, stream.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, _: Long) => {
          idx.set(graft.sources.PostingsStore.refreshPostings(spark,
            idx.get, batch, buckets))
          ()
        }))
    } finally tmp.foreach(deleteReplayDir)
    graft.sources.PostingsStore.phraseSearch(spark, idx.get, phrase)
  }

  /** [[drainPostingsMaintenance]] in the SEGMENT-APPEND regime — the
    * production fold for a high-ingest corpus: each micro-batch
    * tokenizes ONLY itself and lands as an appended segment pair
    * ([[graft.sources.PostingsStore.appendSegment]], O(batch) per
    * fold; the id-merge drain above pays O(index) per fold), and the
    * final segment list serves the phrase. Segments are disjoint row
    * sets the serve-time regroup unions, so chunking converges to the
    * same answer — the corpus-scan operator over base ∪ delta,
    * q_phrase_search's oracle verbatim when the split covers the
    * whole corpus. */
  def drainPostingsSegMaintenance(baseDocs: DataFrame,
      deltaDocs: DataFrame, phrase: Seq[String], nBatches: Int = 3,
      buckets: Int = 8,
      maxSegments: Int =
        graft.sources.DedupIndexStore.DefaultMaxSegments): DataFrame = {
    val spark = baseDocs.sparkSession
    // AtomicReference for the cross-thread handle handoff — see
    // drainPostingsMaintenance
    val idx = new java.util.concurrent.atomic.AtomicReference(
      graft.sources.PostingsStore.writeSegmented(baseDocs, buckets))
    if (deltaDocs.isEmpty)
      return graft.sources.PostingsStore.phraseSearchSeg(spark,
        idx.get, phrase)
    val (stream, tmp) = replayForDrain(
      deltaDocs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    try {
      runDrain(spark, stream.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, _: Long) => {
          // the LSM trigger check rides every fold: append O(batch),
          // then compact only when the list exceeds the measured knee
          // (PERF.md §"Compaction trigger policy") — under it the
          // call returns the list untouched
          idx.set(graft.sources.PostingsStore.compactIfOver(spark,
            graft.sources.PostingsStore.appendSegment(idx.get,
              batch, buckets), maxSegments, buckets))
          ()
        }))
    } finally tmp.foreach(deleteReplayDir)
    graft.sources.PostingsStore.phraseSearchSeg(spark, idx.get, phrase)
  }

  /** [[drainPostingsSegMaintenance]] for the DEDUP family's minhash
    * face — the O(batch) production fold for a banded index: each
    * accepted micro-batch shingles ONLY itself and lands as an
    * appended UNCAPPED segment pair
    * ([[graft.sources.DedupIndexStore.appendMinhashSegment]]), the
    * LSM trigger is checked after every fold, and the final list
    * serves the next ingest's probe with the probe-time GLOBAL cap.
    * In-loop compaction runs UNCAPPED (maxBucket = MaxValue — a pure
    * merge of stored segment rows): the skew cap stays a PROBE-TIME
    * decision, so the loop's answer is independent of when or how
    * often the trigger fired (spec-pinned with the trigger forced
    * on) — the capped-compact refresh caveat never enters the
    * streaming path. */
  def drainMinhashSegMaintenance(baseDocs: DataFrame,
      deltaDocs: DataFrame, probeDocs: DataFrame, nBatches: Int = 3,
      buckets: Int = 8,
      maxSegments: Int =
        graft.sources.DedupIndexStore.DefaultMaxSegments): DataFrame = {
    val spark = baseDocs.sparkSession
    import graft.sources.DedupIndexStore
    // AtomicReference for the cross-thread handle handoff — see
    // drainPostingsMaintenance
    val idx = new java.util.concurrent.atomic.AtomicReference(
      DedupIndexStore.writeMinhashSegmented(baseDocs, buckets = buckets))
    if (deltaDocs.isEmpty)
      return DedupIndexStore.probeMinhashSeg(spark, idx.get, probeDocs)
    val (stream, tmp) = replayForDrain(
      deltaDocs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    try {
      runDrain(spark, stream.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, _: Long) => {
          val appended = DedupIndexStore.appendMinhashSegment(idx.get,
            batch, buckets)
          idx.set(
            if (appended.segments.size <= maxSegments) appended
            else DedupIndexStore.SegmentedMinhash(Seq(
              DedupIndexStore.compactMinhashSegments(spark, appended,
                maxBucket = Int.MaxValue, buckets = buckets))))
          ()
        }))
    } finally tmp.foreach(deleteReplayDir)
    DedupIndexStore.probeMinhashSeg(spark, idx.get, probeDocs)
  }

  /** 1-in-k deterministic sample for the amp drain's TELEMETRY
    * serves (r15 optimization round, r14 verdict item 2): production
    * reads [[graft.sources.DedupIndexStore.segProbeReadAmpBp]] off
    * its live serves for free, and nobody samples ALL traffic for
    * telemetry — a fixed hash slice of it carries the same
    * per-bucket read-amplification signal (the ratio is a property
    * of the stored segment list, averaged over whichever buckets the
    * sampled probes touch). The harness loop has no live traffic, so
    * its telemetry serves are pure added cost: serving the full
    * probe batch three times purely to read two counters was the
    * most expensive row in the r14 bench (9.4 s). The ANSWER probe
    * is never sampled. */
  private val TelemetryServeSample = 4

  /** [[drainMinhashSegMaintenance]] with the maintenance decision
    * made by SERVE TELEMETRY instead of a segment counter — the
    * production wiring of [[graft.sources.DedupIndexStore
    * .compactMinhashIfAmplified]]: each fold appends the O(batch)
    * segment, SERVES a deterministic [[TelemetryServeSample]] slice
    * of the probe batch (a production index is serving continuously
    * anyway and samples its serves for telemetry — here the sampled
    * serve is the telemetry source, executed through its own plan so
    * the observe metrics land, driver never materializes rows),
    * reads the executed serve's per-bucket read amplification, and
    * compacts only when it crosses `maxAmpBp`. The LAST fold appends
    * without a telemetry serve: its maintenance decision could only
    * benefit a subsequent serve, and the drain's final answer is
    * fold-regime-independent by construction (in-loop compaction is
    * the same pure uncapped merge as the count-triggered drain — the
    * skew cap stays a probe-time decision), so the answer equals
    * every other fold regime — the maintenance oracle verbatim, for
    * ANY sample slice including the empty one (an unexecuted or
    * empty-sample serve reads as None and the list passes through). */
  def drainMinhashAmpMaintenance(baseDocs: DataFrame,
      deltaDocs: DataFrame, probeDocs: DataFrame, nBatches: Int = 3,
      buckets: Int = 8,
      maxAmpBp: Long =
        graft.sources.DedupIndexStore.KneeAmpBp): DataFrame = {
    val spark = baseDocs.sparkSession
    import graft.sources.DedupIndexStore
    // AtomicReference for the cross-thread handle handoff — see
    // drainPostingsMaintenance
    val idx = new java.util.concurrent.atomic.AtomicReference(
      DedupIndexStore.writeMinhashSegmented(baseDocs, buckets = buckets))
    if (deltaDocs.isEmpty)
      return DedupIndexStore.probeMinhashSeg(spark, idx.get, probeDocs)
    val tele = probeDocs.filter(
      pmod(xxhash64(col("doc_id")), lit(TelemetryServeSample)) === 0)
    val (stream, tmp) = replayForDrain(
      deltaDocs.select(col("doc_id"), col("text")), "doc_id", nBatches)
    try {
      runDrain(spark, stream.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, id: Long) => {
          val appended = DedupIndexStore.appendMinhashSegment(idx.get,
            batch, buckets)
          if (id < nBatches - 1) {
            // the per-fold sampled serve: executed exhaustively
            // through its own QueryExecution (executeForTelemetry —
            // Dataset.foreachPartition would re-plan and the observe
            // accumulators would read None forever, the r14 bug) so
            // segProbeReadAmpBp can read the observe accumulators;
            // zero driver rows
            val serve = DedupIndexStore.probeMinhashSeg(spark, appended,
              tele)
            DedupIndexStore.executeForTelemetry(serve)
            idx.set(DedupIndexStore.compactMinhashIfAmplified(spark,
                appended, serve, maxAmpBp,
                maxBucket = Int.MaxValue, buckets = buckets) match {
              case Left(still) => still
              case Right(compacted) =>
                DedupIndexStore.SegmentedMinhash(Seq(compacted))
            })
          } else idx.set(appended)
          ()
        }))
    } finally tmp.foreach(deleteReplayDir)
    DedupIndexStore.probeMinhashSeg(spark, idx.get, probeDocs)
  }

  /** [[drainPostingsMaintenance]] for the ANN family: a VECTOR stream
    * folds into the stored IVF-PQ index — each micro-batch assigns and
    * residual-encodes against the frozen model and lands as an
    * APPENDED cell-partitioned segment
    * ([[graft.sources.AnnIndexStore.refreshIvfPqIndex]], O(batch) per
    * fold, base segments never touched), and the grown index serves
    * the query batch. Segment order is irrelevant (segments are
    * disjoint row sets a probe unions), so any chunking converges to
    * the same index — the answer equals the inline operator over
    * base ∪ delta, q_ann_ivfpq_injected's oracle verbatim when the
    * split covers the whole relation. */
  def drainIvfPqMaintenance(baseVecs: DataFrame, deltaVecs: DataFrame,
      queries: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], k: Int, nProbe: Int,
      refine: Int, nBatches: Int = 3, buckets: Int = 8,
      maxSegments: Int =
        graft.sources.AnnIndexStore.DefaultMaxSegments): DataFrame = {
    val spark = baseVecs.sparkSession
    // AtomicReference for the cross-thread handle handoff — see
    // drainPostingsMaintenance
    val idx = new java.util.concurrent.atomic.AtomicReference(
      graft.sources.AnnIndexStore.writeIvfPqIndex(baseVecs,
        centroids, codebooks, buckets))
    if (deltaVecs.isEmpty)
      return graft.sources.AnnIndexStore.probeIvfPq(spark, idx.get,
        queries, k, nProbe, refine)
    val (stream, tmp) = replayForDrain(
      deltaVecs.select(col("vec_id"), col("embedding")), "vec_id",
      nBatches)
    try {
      runDrain(spark, stream.writeStream
        .outputMode(OutputMode.Update())
        .foreachBatch((batch: DataFrame, _: Long) => {
          // append O(batch), then the LSM trigger check — compacts
          // only past the ANN family's measured knee of 8
          idx.set(graft.sources.AnnIndexStore.compactIvfPqIfOver(spark,
            graft.sources.AnnIndexStore.refreshIvfPqIndex(spark,
              idx.get, batch, buckets), maxSegments, buckets))
          ()
        }))
    } finally tmp.foreach(deleteReplayDir)
    graft.sources.AnnIndexStore.probeIvfPq(spark, idx.get, queries, k,
      nProbe, refine)
  }
}
