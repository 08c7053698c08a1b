package graft

import java.nio.file.Files

import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Batch-vs-stream equivalence: the streaming forms must produce the
  * batch answers once the whole input is consumed — Spark's unified
  * planning makes this a semantics test of our shared aggregation
  * bodies, watermarking, and the ns→µs source normalization.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runToCompletion(df: DataFrame, mode: String,
      name: String): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The streaming file source wants a directory; the testdata table is
    * a single parquet file (ns- or µs-encoded ts, depending on the
    * generation — readEvents sniffs) — expose it via a symlink. */
  private lazy val rawEventsDir: String = {
    val dir = Files.createTempDirectory("graft-ns-events")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    dir.toString
  }

  test("streaming word count equals batch word count over text files") {
    val dir = Files.createTempDirectory("graft-lines").toFile
    val lines = Seq("to be or not to be", "that is the question",
      "to be is to do", "do be do")
    // several files → several micro-batches with maxFilesPerTrigger
    lines.zipWithIndex.foreach { case (l, i) =>
      Files.writeString(new java.io.File(dir, s"part-$i.txt").toPath, l + "\n")
    }
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(dir.getAbsolutePath)
    val got = runToCompletion(EventStreams.wordCountStream(stream),
      "complete", "wc_stream")
    val want = spark.read.text(dir.getAbsolutePath)
      .transform(d => EventStreams.wordCountStream(d))
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming tumbling windows over driver-written events equal batch") {
    // real source dir: whatever ts encoding the driver generated —
    // exercises readEvents' schema sniff + normalization against
    // files we did not write ourselves
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.windowedCounts(stream), "complete", "ev_stream")
    val want = EventOps.windowedCounts(Tables.events(spark, sfDir), "1 hour")
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("rate anomaly served over the stream equals the batch scorer") {
    // train on the batch history, serve the same events as a stream:
    // a drained stream must score every window exactly as the batch
    // rateAnomaly does (shared anomalyScore arithmetic)
    val batch = Tables.events(spark, sfDir)
    val stats = EventOps.rateStats(batch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.rateAnomalyStream(stream, stats), "complete", "ev_anom")
    val want = EventOps.rateAnomaly(batch)
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming embedding ingest probe equals the batch incremental " +
      "operator row-for-row") {
    import org.apache.spark.sql.functions.col
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val base = embs.filter(col("vec_id") % 4 =!= 0)
    val batch = embs.filter(col("vec_id") % 4 === 0)
    val planes = Some(Seq.tabulate(4)(t => Seq.tabulate(4)(j =>
      Seq.tabulate(64)(i => if (i == 4 * t + j) 1.0 else 0.0))))
    val dir = Files.createTempDirectory("graft-emb-stream").toString
    batch.repartition(3).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.incrementalEmbeddingStream(stream, base,
        threshold = 0.4, planes = planes), "append", "emb_incr")
    val want = graft.operators.Dedup.incrementalEmbeddingNearDup(
      base, batch, threshold = 0.4, planes = planes)
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("value-outlier flags served over the stream equal the batch gate") {
    // train the integer fences on batch history, serve the same
    // events as a stream: the flagged event set must equal what the
    // batch fence compare flags (identical 400*v_e4-vs-long compare),
    // and the flag COUNT per type must reconcile with valueOutliers'
    // n_outliers
    val batch = Tables.events(spark, sfDir)
    val fences = EventOps.valueFences(batch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.valueOutlierFlags(stream, fences), "append", "ev_flags")
    val want = EventStreams.valueOutlierFlags(batch, fences)
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
    val perType = got.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    EventOps.valueOutliers(batch)
      .select("event_type", "n_outliers").as[(String, Long)].collect()
      .foreach { case (tp, n) =>
        assert(perType.getOrElse(tp, 0L) == n,
          s"type $tp: stream flags diverge from batch n_outliers")
      }
  }

  test("incremental accumulation across micro-batches matches batch") {
    // re-write events as many µs-timestamp files → many micro-batches
    val batch = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("graft-events").toString
    batch.repartition(5).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.windowedCounts(stream), "complete", "ev_incr")
    val want = EventOps.windowedCounts(spark.read.parquet(dir), "1 hour")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("append mode with watermark emits only closed windows, all correct") {
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.windowedCounts(stream, watermark = Some("1 hour")),
      "append", "ev_wm")
    val want = EventOps.windowedCounts(Tables.events(spark, sfDir), "1 hour")
    val wantSet = sortedRows(want).toSet
    val gotRows = sortedRows(got)
    // every emitted window is finalized and exactly equals its batch row
    assert(gotRows.nonEmpty)
    assert(gotRows.forall(wantSet.contains))
    // only the tail windows still inside the watermark may be withheld
    assert(gotRows.size >= want.count() - 8)
  }

  test("streaming dedup drops cross-micro-batch duplicates within watermark") {
    // the whole table twice, one file per micro-batch → every event_id
    // arrives exactly twice, in different micro-batches
    val batch = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("graft-dup-events").toString
    batch.coalesce(1).write.mode("overwrite").parquet(dir)
    val dup = Files.createTempDirectory("graft-dup-in").toString
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.copy(part, java.nio.file.Paths.get(dup, "a.parquet"))
    Files.copy(part, java.nio.file.Paths.get(dup, "b.parquet"))
    val stream = EventStreams.readEventsMicros(spark, dup,
      maxFilesPerTrigger = 1)
    // delay longer than the data's time span → no state eviction, so
    // the second copy is always caught
    val got = runToCompletion(
      EventStreams.dedupEvents(stream, watermarkDelay = "365 days"),
      "append", "ev_dedup")
    assert(got.count() == batch.count())
    assert(got.select("event_id").distinct().count() == batch.count())
  }

  test("stream-static incremental dedup matches the batch operator") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val (baseCorpus, batch) =
      graft.operators.Dedup.splitIncremental(corpus)
    // base participates only as its static fingerprint relation
    val baseFps = baseCorpus
      .select(graft.functions.TextAnalysis.fingerprintMd5(col("text"))
        .as("fp_md5")).distinct()
    // several files -> several micro-batches, duplicates split across
    // them (the planted re-keys land in different files than their
    // originals thanks to the doc_id-ordered range split)
    val dir = Files.createTempDirectory("graft-incr-stream").toString
    batch.orderBy("doc_id").repartitionByRange(4, $"doc_id")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val got = runToCompletion(
      EventStreams.incrementalDedupStream(stream, baseFps),
      "append", "incr_dedup_stream")
    val want = graft.operators.Dedup.incrementalExact(baseCorpus, batch)
    // streaming keep-first is arrival-order, batch is smallest-id —
    // the surviving FINGERPRINT set (and count) must agree exactly
    assert(got.count() == want.count())
    assert(got.select("fp_md5").as[String].collect().toSet ==
      want.select("fp_md5").as[String].collect().toSet)
  }

  test("drained incremental dedup is ROW-identical to the batch " +
      "operator (deterministic id-ascending arrival)") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val (baseCorpus, batch) =
      graft.operators.Dedup.splitIncremental(corpus)
    // unlike the fp-set check above, the harness drain pins ROWS: its
    // mod-time-stamped id-range replay makes first-arrived ==
    // smallest-doc_id, the batch keep rule — the property that lets
    // q_dedup_incr_exact_stream share q_dedup_incr_exact's oracle
    val got = EventStreams.drainIncrementalDedup(baseCorpus, batch)
      .select("doc_id", "lang", "source", "fp_md5")
      .orderBy("doc_id")
      .collect().toSeq
    val want = graft.operators.Dedup.incrementalExact(baseCorpus, batch)
      .select("doc_id", "lang", "source", "fp_md5")
      .orderBy("doc_id")
      .collect().toSeq
    assert(got == want)
  }

  test("stream-static incremental near-dup matches the batch probe") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val (baseCorpus, batch) =
      graft.operators.Dedup.splitIncremental(corpus)
    // duplicates split across micro-batches, as in the exact-dedup test
    val dir = Files.createTempDirectory("graft-incr-near-stream").toString
    batch.orderBy("doc_id").repartitionByRange(4, $"doc_id")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.incrementalNearDupStream(stream, baseCorpus),
      "append", "incr_near_stream")
    val want =
      graft.operators.Dedup.incrementalNearDupPairs(baseCorpus, batch)
    // the planted re-keys must produce pairs, and the streaming probe
    // must agree with the batch operator row for row (the projected
    // array_min signature is value-identical to the min-aggregate)
    assert(want.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("drained incremental near-dup equals the batch probe " +
      "(pair set needs no arrival-order argument)") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val (baseCorpus, batch) =
      graft.operators.Dedup.splitIncremental(corpus)
    val got = EventStreams.drainIncrementalNearDup(baseCorpus, batch)
      .orderBy("doc_batch", "doc_base").collect().toSeq
    val want = graft.operators.Dedup
      .incrementalNearDupPairs(baseCorpus, batch)
      .orderBy("doc_batch", "doc_base").collect().toSeq
    assert(got == want)
    assert(want.nonEmpty, "planted re-keys must produce pairs")
  }

  test("streaming quality gate: batch-trained thresholds flag exactly " +
      "score >= thr; every batch-kept doc passes") {
    import org.apache.spark.sql.functions._
    import graft.operators.CorpusOps
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val thr = CorpusOps.qualityThresholds(corpus, keepBp = 2500)
      .localCheckpoint()
    val dir = Files.createTempDirectory("graft-qgate-stream").toString
    corpus.orderBy("doc_id").repartitionByRange(4, $"doc_id")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.qualityGateStream(stream, thr), "append", "qgate_stream")
    assert(got.count() == corpus.count()) // stateless: every doc scored
    val flagged = got.filter($"pass").select("doc_id").as[Long]
      .collect().toSet
    // the stream gate IS score >= thr — recompute batch-side
    val want = corpus
      .select($"doc_id", $"source",
        CorpusOps.qualityScoreE4($"text").as("score"))
      .join(thr, "source").filter($"score" >= $"thr")
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == want)
    // serving admits a superset of the batch keep, differing only in
    // the threshold stratum (the tie quota has no meaning for new data)
    val kept = CorpusOps.qualityCalibrated(corpus, keepBp = 2500)
      .localCheckpoint()
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds.subsetOf(flagged))
    val extras = flagged -- keptIds
    val thrOf = thr.as[(String, Long)].collect().toMap
    val scoreOf = got.as[(Long, String, Long, Option[Boolean])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    extras.foreach { id =>
      val (src, score) = scoreOf(id)
      assert(score == thrOf(src), s"doc $id passed above threshold " +
        "yet was not batch-kept")
    }
  }

  test("cluster-map maintenance stream: folded map == from-scratch CC; " +
      "refolding a batch is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Clustering, Dedup}
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.ngramJaccard(corpus, n = 3, threshold = 0.8)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val isBase = (c: org.apache.spark.sql.Column) => pmod(c, lit(4)) =!= 0
    val basePairs = pairs.filter(isBase($"doc_a") && isBase($"doc_b"))
    val deltaPairs = pairs.exceptAll(basePairs).localCheckpoint()
    assert(deltaPairs.count() > 0, "fixture needs delta edges")
    val baseNodes = corpus.filter(isBase($"doc_id")).select($"doc_id")
    val state = new EventStreams.ClusterMapState(
      Clustering.connectedComponents(basePairs, baseNodes))
    // several files -> several micro-batches folding one at a time
    val dir = Files.createTempDirectory("graft-ccmap-stream").toString
    deltaPairs.orderBy("doc_a").repartitionByRange(4, $"doc_a")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(deltaPairs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.clusterMapStream(stream, state)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // the map saw base edges once (in the initial CC) and each delta
    // edge once (in its micro-batch) — yet must equal the from-scratch
    // closure over everything the edges and base ever mentioned
    val universe = baseNodes
      .union(deltaPairs.select($"doc_a".as("doc_id")))
      .union(deltaPairs.select($"doc_b".as("doc_id"))).distinct()
    val want = Clustering.connectedComponents(pairs, universe)
      .as[(Long, Long)].collect().toMap
    val got = state.current.as[(Long, Long)].collect().toMap
    assert(got == want)
    // idempotence — the at-least-once safety claim: refold everything
    state.fold(deltaPairs)
    assert(state.current.as[(Long, Long)].collect().toMap == want)
    // bounded state — the unbounded-stream claim: repeated folds must
    // not accumulate pinned checkpoint blocks (each fold sweeps its
    // transient checkpoints and the superseded map)
    val n0 = spark.sparkContext.getPersistentRDDs.size
    state.fold(deltaPairs); state.fold(deltaPairs); state.fold(deltaPairs)
    val n1 = spark.sparkContext.getPersistentRDDs.size
    assert(n1 <= n0, s"folds leak pinned checkpoints: $n0 -> $n1")
  }

  test("stream-static simhash probe matches the batch probe; the " +
      "projection fingerprint equals the aggregate form") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val baseCorpus = corpus.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = corpus.filter(pmod(col("doc_id"), lit(4)) === 0)
    // the stateless projection is bit-identical to the batch aggregate
    val viaProj = corpus.select($"doc_id",
      Dedup.simhashProjection($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaAgg = Dedup.simhash(corpus, bits = 60,
      hasher = graft.functions.TextAnalysis.md5Hash60)
      .as[(Long, Long)].collect().toMap
    viaAgg.foreach { case (id, sh) => assert(viaProj(id) == sh, s"doc $id") }
    // drained stream == batch probe row-for-row
    val dir = Files.createTempDirectory("graft-incr-sim-stream").toString
    batch.orderBy("doc_id").repartitionByRange(4, $"doc_id")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.incrementalSimhashStream(stream, baseCorpus),
      "append", "incr_sim_stream")
    val want = Dedup.incrementalSimhashPairs(baseCorpus, batch)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("stream-static dHash probe matches the batch probe") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    // the perturbed plant arrives as the streamed batch, split across
    // micro-batches; the base keeps the originals
    val batch = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", concat(substring(col("text"), 1, 36),
        lit("Q"), expr("substring(text, 38)")))
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft-dhash-stream").toString
    batch.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      graft.operators.MultiModal.dHashProbe(stream, corpus),
      "append", "dhash_stream")
    val want = graft.operators.MultiModal.dHashProbe(batch, corpus)
    assert(want.count() > 0, "planted edits must probe-hit the base")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming phrase match: the pure projection runs unchanged " +
      "on a file stream and equals the batch window form") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val phrase = Seq("hash", "row")
    val dir = Files.createTempDirectory("graft-phrase-stream").toString
    corpus.select("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(corpus.select("doc_id", "text").schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // the SAME code as the batch q_phrase_projected — stateless, so
    // it needs no watermark, no output-mode gymnastics
    val got = runToCompletion(
      graft.operators.CorpusOps.phraseProjection(stream, phrase),
      "append", "phrase_stream")
    val want = graft.operators.CorpusOps.phraseSearch(corpus, phrase)
    assert(want.count() > 0, "the corpus should contain the phrase")
    assert(sortedRows(got) == sortedRows(want))
  }

  test("streaming NB scoring matches the batch scorer row for row") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    // train in batch, collapse to the serving model
    val (w, bias) = graft.operators.CorpusOps.nbServingModel(
      graft.operators.CorpusOps.trainNaiveBayesQuery(corpus))
    // serve the same corpus as a stream across several micro-batches
    val dir = Files.createTempDirectory("graft-nb-stream").toString
    corpus.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.nbScoreStream(stream, w, bias), "append", "nb_stream")
    val want = EventStreams.nbScoreStream(corpus, w, bias)
    assert(got.count() == corpus.count())
    assert(sortedRows(got) == sortedRows(want))
    // and the serving scores agree with the training-side confusion:
    // flagged counts match the relation-join evaluator's predictions
    val conf = graft.operators.CorpusOps.naiveBayesEvalQuery(corpus)
      .filter(col("pred") === 1L)
      .agg(coalesce(sum("n_docs"), lit(0L))).as[Long].head()
    assert(got.filter(col("flagged")).count() == conf)
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.purchaseAttribution(stream), "append", "ev_attrib")
    val want = EventOps.purchaseAttribution(Tables.events(spark, sfDir))
    assert(got.count() > 0)
    assert(sortedRows(got) == sortedRows(want))
  }

  test("mapGroupsWithState running counts converge to batch totals") {
    val batch = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("graft-events-st").toString
    batch.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.userRunningCounts(stream).toDF(), "update", "ev_run")
    // update-mode sink keeps every intermediate total; the max per user
    // is the final state and must equal the batch count
    val finals = got.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n"))
      .as[(Long, Long)].collect().toMap
    val want = batch.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    assert(finals == want)
  }

  test("streaming decayed counts: final emission equals the exact " +
      "integer staircase over everything seen") {
    import org.apache.spark.sql.functions.col
    val batch = Tables.events(spark, sfDir)
      .select("event_type", "ts")
    val dir = Files.createTempDirectory("graft-decay-stream").toString
    batch.orderBy("ts").repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToCompletion(
      EventStreams.decayedCountsStream(stream).toDF(),
      "update", "decay_stream")
    // n_events is monotone per type, so the max-n row is the final
    // state; its decay must equal the witness over ALL events with
    // the stream's per-type reference day
    val finals = got.as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (tp, rows) => tp -> rows.maxBy(_._2) }
    val witness = batch
      .select(col("event_type"),
        org.apache.spark.sql.functions.expr(
          graft.operators.EventOps.epochDaySql("ts")).as("day"))
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (tp, rows) =>
        val ds = rows.map(_._2)
        val ref = ds.max
        val sum = ds.map(d => BigInt(1) <<
          (50 - math.min((ref - d) / 7, 50L).toInt)).sum
        tp -> (ds.length.toLong,
          (sum * 1000000 / (BigInt(1) << 50)).toLong)
      }
    assert(finals.keySet == witness.keySet)
    finals.foreach { case (tp, (_, n, e6)) =>
      assert((n, e6) == witness(tp), s"type $tp diverged")
    }
    // multiple emissions happened (several micro-batches)
    assert(got.count() > finals.size)
  }

  test("checkpointed parquet sink: exactly-once windows across a restart") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sfDir).orderBy("ts")
    val n = events.count()
    val first = events.limit((n / 2).toInt)
    val second = events.exceptAll(first)
    val src = Files.createTempDirectory("graft-sink-src").toString
    val out = Files.createTempDirectory("graft-sink-out").toString
    val chk = Files.createTempDirectory("graft-sink-chk").toString
    def runOnce(): Unit = {
      val q = EventStreams.windowedCounts(
          EventStreams.readEventsMicros(spark, src),
          watermark = Some("1 hour"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      val done = q.awaitTermination(120000)
      if (!done) q.stop() // don't let run 2 race a live query on the checkpoint
      assert(done, "availableNow run did not finish within 120s")
    }
    // run 1 sees only the first half; the checkpoint then carries the
    // source offset and watermark into run 2, which processes ONLY the
    // newly arrived files
    first.coalesce(1).write.mode("append").parquet(src)
    runOnce()
    second.coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val sunk = spark.read.parquet(out)
    // exactly-once: no window emitted twice across the two runs
    val dups = sunk.groupBy("w_start", "event_type").count()
      .filter(col("count") > 1).count()
    assert(dups == 0)
    // and every emitted row matches the batch answer exactly
    val want = sortedRows(EventOps.windowedCounts(
      spark.read.parquet(src), "1 hour")).toSet
    val got = sortedRows(sunk)
    assert(got.nonEmpty && got.forall(want.contains))
  }

  test("sessions absorb late-but-in-watermark events from later micro-batches") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, user: Long, ts: String) =
      (id, Timestamp.valueOf(ts), user, "click", 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft-ooo").toString
    // batch 1: two events at 10:00 / 10:10
    Seq(ev(1, 1, "2024-01-01 10:00:00"), ev(2, 1, "2024-01-01 10:10:00"))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(dir)
    // batch 2 (later file): events EARLIER than batch 1's — one extends
    // the session backward, one lands inside it; a far-future sentinel
    // advances the watermark so the session closes
    Seq(ev(3, 1, "2024-01-01 09:50:00"), ev(4, 1, "2024-01-01 10:05:00"),
      ev(5, 99, "2024-01-01 20:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.userSessions(stream).toDF(), "append", "ev_ooo")
      .collect()
    // one closed session: [09:50, 10:10 + 30min) with all 4 events —
    // the per-batch-fold implementation would emit [10:00, 10:40) n=2
    // plus a spurious [09:50, ...) session
    assert(got.length == 1, got.mkString("; "))
    val r = got.head
    assert(r.getAs[Long]("user_id") == 1L)
    assert(r.getAs[Timestamp]("s_start") == Timestamp.valueOf("2024-01-01 09:50:00"))
    assert(r.getAs[Timestamp]("s_end") == Timestamp.valueOf("2024-01-01 10:40:00"))
    assert(r.getAs[Long]("n_events") == 4L)
  }

  test("streaming Misra-Gries heavy hitters equal batch in the exact regime") {
    val dir = Files.createTempDirectory("graft-mg-lines").toFile
    val lines = Seq("to be or not to be", "that is the question",
      "to be is to do", "do be do be do")
    lines.zipWithIndex.foreach { case (l, i) =>
      Files.writeString(new java.io.File(dir, s"part-$i.txt").toPath, l + "\n")
    }
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(dir.getAbsolutePath)
    val got = runToCompletion(
      EventStreams.heavyHittersStream(stream, capacity = 64),
      "complete", "mg_stream")
    val want = spark.read.text(dir.getAbsolutePath)
      .transform(d => EventStreams.heavyHittersStream(d, capacity = 64))
    // distinct words < capacity -> no decrements on either path, so
    // the streamed cross-batch merges land on the exact batch summary
    assert(sortedRows(got) == sortedRows(want))
    val top = got.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("top")))
      .select("col.word", "col.cnt").as[(String, Long)].collect().toSeq
    // be = 2+1+2 = 5; to = do = 4 tie -> word-asc puts "do" second
    assert(top.take(2) == Seq(("be", 5L), ("do", 4L)))
  }

  test("streaming HLL sketch equals the batch sketch after draining") {
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.distinctUsersSketchStream(stream), "complete",
      "ev_hll_stream")
    val want = EventOps.distinctUsersSketch(Tables.events(spark, sfDir))
      .select("event_type", "n_users_approx")
    // identical deterministic aggregate over identical data — the
    // incremental sketch must land on the batch sketch's estimates
    assert(sortedRows(got) == sortedRows(want))
  }

  test("built-in streaming session_window matches closed batch sessions") {
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.sessionCounts(stream), "append", "ev_sess_native")
    val want = EventOps.sessionCounts(Tables.events(spark, sfDir))
    val wantSet = sortedRows(want).toSet
    val gotRows = sortedRows(got)
    // append mode emits only watermark-closed sessions; each must agree
    // exactly with the batch session_window result
    assert(gotRows.nonEmpty)
    assert(gotRows.forall(wantSet.contains))
  }

  test("built-in session state merges out-of-order events across batches") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, user: Long, ts: String) =
      (id, Timestamp.valueOf(ts), user, "click", 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft-ooo-native").toString
    // same fixture as the flatMapGroupsWithState test: batch 2 extends
    // batch 1's session backward and fills its interior, then a
    // sentinel closes it — the built-in's merging state must produce
    // the identical single session
    Seq(ev(1, 1, "2024-01-01 10:00:00"), ev(2, 1, "2024-01-01 10:10:00"))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(ev(3, 1, "2024-01-01 09:50:00"), ev(4, 1, "2024-01-01 10:05:00"),
      ev(5, 99, "2024-01-01 20:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.sessionCounts(stream), "append", "ev_ooo_native")
      .collect()
    assert(got.length == 1, got.mkString("; "))
    val r = got.head
    assert(r.getAs[Long]("user_id") == 1L)
    assert(r.getAs[Timestamp]("s_start") == Timestamp.valueOf("2024-01-01 09:50:00"))
    assert(r.getAs[Timestamp]("s_end") == Timestamp.valueOf("2024-01-01 10:40:00"))
    assert(r.getAs[Long]("n_events") == 4L)
  }

  test("flatMapGroupsWithState sessions match closed batch sessions") {
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.userSessions(stream).toDF(), "append", "ev_sess")
    val want = EventOps.sessionCounts(Tables.events(spark, sfDir))
      .select("user_id", "s_start", "s_end", "n_events")
    val wantSet = sortedRows(want).toSet
    val gotRows = sortedRows(got.select("user_id", "s_start", "s_end", "n_events"))
    // every emitted (closed) session must agree exactly with the batch
    // session_window result; open tail sessions may be withheld
    assert(gotRows.nonEmpty)
    assert(gotRows.forall(wantSet.contains))
  }

  test("streaming as-of enrichment matches the batch as-of join") {
    import graft.operators.AsofJoin
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.asofEnrichStream(stream).toDF(), "append", "ev_asof")
    val want = AsofJoin.eventAsof(Tables.events(spark, sfDir))
    val cols = Seq("ev_id", "user_id", "ev_ts", "asof_id", "asof_ts",
      "gap_us")
    val wantSet = sortedRows(want.select(cols.head, cols.tail: _*)).toSet
    val gotRows = sortedRows(got.select(cols.head, cols.tail: _*))
    // append mode emits only watermark-closed query rows; each must
    // agree exactly with the batch as-of answer
    assert(gotRows.nonEmpty)
    assert(gotRows.forall(wantSet.contains), gotRows.filterNot(wantSet)
      .take(3).mkString("; "))
  }

  test("as-of state survives a checkpointed restart") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, user: Long, ts: String, t: String) =
      (id, Timestamp.valueOf(ts), user, t, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val src = Files.createTempDirectory("graft-asof-src").toString
    val out = Files.createTempDirectory("graft-asof-out").toString
    val chk = Files.createTempDirectory("graft-asof-chk").toString
    def runOnce(): Unit = {
      val q = EventStreams.asofEnrichStream(
          EventStreams.readEventsMicros(spark, src)).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      val done = q.awaitTermination(120000)
      if (!done) q.stop()
      assert(done, "availableNow run did not finish within 120s")
    }
    // run 1 buffers a click and a pending purchase (nothing emitted:
    // the watermark hasn't passed the purchase)...
    Seq(ev(1, 1, "2024-01-01 10:00:00", "click"),
      ev(2, 1, "2024-01-01 10:10:00", "purchase"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    // ...run 2 restores BOTH buffers from the checkpoint: a better
    // click lands between them, a sentinel closes the purchase — the
    // restored state must produce the 10:05 match, and only once
    Seq(ev(3, 1, "2024-01-01 10:05:00", "click"),
      ev(9, 99, "2024-01-01 20:00:00", "click"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), Option(r.get(3)))).toSeq
    assert(got == Seq((2L, Some(3L))), got.mkString("; "))
  }

  test("streaming transitions emit each batch pair exactly once") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lead, unix_micros}
    val stream = EventStreams.readEvents(spark, rawEventsDir)
    val got = runToCompletion(
      EventStreams.typeTransitionsStream(stream).toDF(), "append",
      "ev_trans")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    // batch witness: the same (ts, id)-ordered per-user pair relation
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .withColumn("to_id", lead("event_id", 1).over(w))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("to_id"),
        col("event_type"), col("to_type"))
      .as[(Long, Long, Long, String, String)].collect().toSet
    // append mode withholds each user's tail inside the watermark;
    // everything emitted must be a batch pair, exactly once
    assert(got.nonEmpty)
    assert(got.distinct.length == got.length)
    assert(got.forall(want.contains))
  }

  test("streaming transitions order out-of-order arrivals correctly") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, user: Long, ts: String) =
      (id, Timestamp.valueOf(ts), user, s"t$id", 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val dir = Files.createTempDirectory("graft-ooo-trans").toString
    // batch 1: events at 10:00 and 12:00; batch 2 lands BETWEEN them
    // (11:00, still inside the watermark) plus a sentinel that
    // finalizes everything. Correct chain: 1 -> 2 -> 3. A naive
    // per-batch lead() would have emitted the wrong 1 -> 3 edge.
    Seq(ev(1, 1, "2024-01-01 10:00:00"), ev(3, 1, "2024-01-01 12:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(ev(2, 1, "2024-01-01 11:00:00"), ev(9, 99, "2024-01-02 20:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.typeTransitionsStream(stream).toDF(), "append",
      "ooo_trans")
      .as[(Long, Long, Long, String, String)].collect().sortBy(_._2).toSeq
    assert(got == Seq((1L, 1L, 2L, "t1", "t2"), (1L, 2L, 3L, "t2", "t3")))
  }

  test("streaming as-of buffers out-of-order references across batches") {
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, user: Long, ts: String, t: String) =
      (id, Timestamp.valueOf(ts), user, t, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val dir = Files.createTempDirectory("graft-ooo-asof").toString
    // batch 1: the purchase and an EARLIER click; batch 2 delivers an
    // out-of-order click BETWEEN them (still inside the watermark) and
    // a sentinel that closes the purchase. The correct match is the
    // buffered 10:05 click — an enrich-on-sight cache would have
    // answered 10:00 before the better reference ever arrived.
    Seq(ev(1, 1, "2024-01-01 10:10:00", "purchase"),
      ev(2, 1, "2024-01-01 10:00:00", "click"),
      ev(4, 2, "2024-01-01 10:00:00", "purchase"))
      .toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(dir)
    Seq(ev(3, 1, "2024-01-01 10:05:00", "click"),
      ev(9, 99, "2024-01-01 20:00:00", "click"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val stream = EventStreams.readEventsMicros(spark, dir,
      maxFilesPerTrigger = 1)
    val got = runToCompletion(
      EventStreams.asofEnrichStream(stream).toDF(), "append", "ooo_asof")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, Some(3L), Some(Timestamp.valueOf("2024-01-01 10:05:00"))),
      // user 2 has no prior click: emitted with a null match
      (4L, 2L, None, None)))
  }

  test("drained streaming session windows equal the batch sessions " +
      "(the q_events_session_stream regime)") {
    val batch = Tables.events(spark, sfDir)
    val got = EventStreams.drainSessionCounts(batch).collect().toSeq
    val want = EventOps.sessionCounts(batch).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("drained rate-anomaly serve loop equals the batch scorer " +
      "(the q_events_anomaly_stream regime)") {
    import spark.implicits._
    val batch = Tables.events(spark, sfDir)
    val stats = EventOps.rateStats(batch)
      .as[(String, Long, Long, Long)].collect().toSeq
    val got = EventStreams.drainRateAnomaly(batch, stats).collect().toSeq
    val want = EventOps.rateAnomaly(batch).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("drained streaming heavy hitters equal the batch summary in " +
      "the exact regime (the q_wordcount_heavy_stream regime)") {
    import org.apache.spark.sql.functions.col
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = EventStreams.drainHeavyHitters(corpus, 1024)
      .collect().toSeq
    val want = graft.operators.WordCount
      .heavyHitters(corpus, col("text"), 1024).collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("drained HLL sketch stream equals the batch sketch estimate " +
      "and carries the true exact-distinct column") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val events = Tables.events(spark, sfDir)
    val got = EventStreams.drainDistinctUsersSketch(events)
      .collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // estimate column == the batch sketch's (one deterministic
    // merge-associative aggregate; chunked arrival cannot move it)
    val batchEst = graft.operators.EventOps.distinctUsersSketch(events)
      .collect().toSeq
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (tp, _, approx) =>
      assert(approx == batchEst(tp),
        s"$tp: drained estimate $approx != batch ${batchEst(tp)}") }
    // exact column is the truth (the in-row check a reader applies)
    val exact = events.filter(col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (tp, ex, _) => assert(ex == exact(tp)) }
  }

  test("drained serve faces equal their batch twins (decay asOfDay, " +
      "outlier flags, quality gate, NB scores)") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sfDir)
    // decay: the drain pins asOfDay = global max epoch day, so the
    // drained staircase must equal the BATCH operator bit for bit —
    // the alignment that lets the harness row share q_events_decay's
    // oracle (the self-referenced stream default may not)
    val gotD = EventStreams.drainDecayedCounts(events)
    val wantD = EventOps.decayedCounts(events, halfLifeDays = 7)
    assert(sortedRows(gotD) == sortedRows(wantD))
    // outlier flags: drained flag rows == the batch gate's rows
    val fences = EventOps.valueFences(events)
      .as[(String, Long, Long)].collect().toSeq
    val gotF = EventStreams.drainValueOutlierFlags(events)
    val wantF = EventStreams.valueOutlierFlags(
      events.select($"event_id", $"event_type", $"value"), fences)
    assert(gotF.count() > 0)
    assert(sortedRows(gotF) == sortedRows(wantF))
    // quality gate + NB probe: drained == the same stateless body
    // applied in batch (their stream-vs-batch equivalence is pinned
    // above; this pins the DRAIN plumbing end to end)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val thr = graft.operators.CorpusOps
      .qualityThresholds(docs, keepBp = 2500).localCheckpoint()
    val gotQ = EventStreams.drainQualityGate(docs, thr)
    val wantQ = EventStreams.qualityGateStream(
      docs.select($"doc_id", $"source", $"text"), thr)
    assert(gotQ.count() == docs.count())
    assert(sortedRows(gotQ) == sortedRows(wantQ))
    val model = graft.operators.CorpusOps.markerNbModel(docs)
      .localCheckpoint()
    val (w, b) = graft.operators.CorpusOps.nbServingModel(model)
    val gotN = EventStreams.drainNbScores(docs, model)
    val wantN = EventStreams.nbScoreStream(
      docs.select($"doc_id", $"text"), w, b)
    assert(gotN.count() == docs.count())
    assert(sortedRows(gotN) == sortedRows(wantN))
  }

  test("drained word-count / tumbling / custom-session faces equal " +
      "their batch twins") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the REFERENCE pipeline's streaming form, COMPLETE-mode drained
    val gotW = EventStreams.drainWordCount(docs).collect().toSeq
    val wantW = graft.operators.WordCount.byFrequency(docs, col("text"))
      .collect().toSeq
    assert(gotW.nonEmpty && gotW == wantW)
    val events = Tables.events(spark, sfDir)
    val gotT = EventStreams.drainWindowedCounts(events).collect().toSeq
    val wantT = EventOps.tumblingCounts(events).collect().toSeq
    assert(gotT.nonEmpty && gotT == wantT)
    // custom flatMapGroupsWithState sessions == batch session_window
    val gotS = EventStreams.drainUserSessions(events).collect().toSeq
    val wantS = EventOps.sessionCounts(events).collect().toSeq
    assert(gotS.nonEmpty && gotS == wantS)
  }

  test("drained transition / attribution / as-of faces equal their " +
      "batch twins") {
    val events = Tables.events(spark, sfDir)
    // transitions: drained edges aggregate to the batch matrix
    val gotT = EventStreams.drainTypeTransitions(events).collect().toSeq
    val wantT = EventOps.typeTransitions(events).collect().toSeq
    assert(gotT.nonEmpty && gotT == wantT)
    // stream-STREAM interval join: drained pairs == batch join
    val gotA = EventStreams.drainPurchaseAttribution(events)
      .collect().toSeq
    val wantA = EventOps.purchaseAttribution(events).collect().toSeq
    assert(gotA.nonEmpty && gotA == wantA)
    // as-of: drained rows == batch as-of join, INCLUDING the null
    // matches (LEFT semantics — the sentinel must flush unmatched
    // queries too)
    val gotAs = EventStreams.drainAsofEnrich(events).collect().toSeq
    val wantAs = graft.operators.AsofJoin.eventAsof(events)
      .collect().toSeq
    assert(gotAs.nonEmpty && gotAs == wantAs)
    assert(wantAs.exists(_.isNullAt(3)),
      "fixture should exercise the null-match path")
  }

  test("decay drain pins the GLOBAL reference day: a type with no " +
      "recent events decays against the table's max day, not its own") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      (1L, "a", "2024-01-10 00:00:00"),
      (2L, "a", "2024-01-01 00:00:00"),
      (3L, "b", "2024-01-01 00:00:00"),
      (4L, "b", "2024-01-03 00:00:00")) // b's newest 7 days old
      .toDF("event_id", "event_type", "ts_s")
      .select($"event_id", $"event_type",
        to_timestamp($"ts_s").as("ts"))
    val got = EventStreams
      .drainDecayedCounts(ev, halfLifeDays = 1, nBatches = 2)
    val want = EventOps.decayedCounts(ev, halfLifeDays = 1)
    assert(sortedRows(got) == sortedRows(want))
    // the witness that asOfDay does the aligning: self-referenced to
    // b's own newest day (Jan 3), b's staircase would be
    // (2^48 + 2^50)·1e6 / 2^50 = 1_250_000; referenced to the global
    // Jan 10 it is (2^41 + 2^43)·1e6 DIV 2^50 = 5e6 DIV 512 = 9_765
    val bRow = got.filter($"event_type" === "b")
      .select($"decay_e6").as[Long].head()
    assert(bRow == 9765L && bRow != 1250000L)
  }

  // ---- the drain runner: scoped conf, restored exactly ----

  private val drainKeys = EventStreams.DrainConf.map(_._1)
  private val fsManager = "FileSystemBasedCheckpointFileManager"

  private def drainKeyState: Map[String, Option[String]] = {
    val set = spark.conf.getAll
    drainKeys.map(k => k -> set.get(k)).toMap
  }

  private def checkpointManager(s: org.apache.spark.sql.SparkSession)
      : String = {
    import org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager
    val dir = Files.createTempDirectory("graft-chk-probe").toString
    CheckpointFileManager.create(new org.apache.hadoop.fs.Path(dir),
      s.sessionState.newHadoopConf()).getClass.getSimpleName
  }

  /** A bounded one-file parquet stream — AvailableNow drains it in one
    * micro-batch. */
  private def oneRowStream(): DataFrame = {
    val dir = Files.createTempDirectory("graft-one-row").toString
    spark.range(1).write.mode("overwrite").parquet(dir)
    spark.readStream.schema(spark.range(1).schema).parquet(dir)
  }

  test("drain runner: FileSystem checkpoint manager in the scope and " +
      "on the stream thread; both keys restored, unset stays unset") {
    val before = drainKeyState
    assert(before("spark.sql.streaming.checkpointFileManagerClass")
      .isEmpty, "the test session must leave the manager class unset")
    assert(checkpointManager(spark) != fsManager)
    // (outer session's manager, stream clone's manager, clone's
    // shuffle partitions) seen from inside the running query
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, String)]()
    EventStreams.runDrain(spark, oneRowStream().writeStream
      .foreachBatch((b: DataFrame, _: Long) => {
        seen.add((checkpointManager(spark),
          checkpointManager(b.sparkSession),
          b.sparkSession.conf.get("spark.sql.shuffle.partitions")))
        ()
      }))
    assert(!seen.isEmpty)
    seen.forEach(v => assert(v == ((fsManager, fsManager, "8"))))
    assert(drainKeyState == before)
  }

  test("drain runner: conf restored after the query fails; a preset " +
      "checkpointLocation fails the runner's require") {
    val before = drainKeyState
    val fail: (DataFrame, Long) => Unit =
      (_, _) => throw new IllegalStateException("fold failed")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.runDrain(spark, oneRowStream().writeStream
        .foreachBatch(fail))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "fold failed"))
    assert(drainKeyState == before)
    val key = "spark.sql.streaming.checkpointLocation"
    val chk = Files.createTempDirectory("graft-preset-chk").toString
    spark.conf.set(key, chk)
    try {
      val e = intercept[IllegalArgumentException] {
        EventStreams.runDrain(spark, oneRowStream().writeStream
          .format("noop"))
      }
      assert(e.getMessage.contains("runDrain") &&
        e.getMessage.contains(key))
    } finally spark.conf.unset(key)
    assert(drainKeyState == before)
  }

  test("runner sites with no oracle row: the count sink and the " +
      "cluster-map fold rehearsal equal their batch and drained twins") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
    val (baseCorpus, batch) =
      graft.operators.Dedup.splitIncremental(corpus)
    val baseFps = baseCorpus
      .select(graft.functions.TextAnalysis.fingerprintMd5(col("text"))
        .as("fp_md5"))
      .distinct()
    assert(EventStreams.replayThroughCountSink(batch, "doc_id",
      s => EventStreams.incrementalDedupStream(s, baseFps)) ==
      graft.operators.Dedup.incrementalExact(baseCorpus, batch).count())
    val pairs = graft.operators.Dedup.ngramJaccard(corpus, n = 3,
      threshold = 0.8).select(col("doc_a"), col("doc_b"))
    val baseA = pmod(col("doc_a"), lit(4)) =!= 0
    val baseB = pmod(col("doc_b"), lit(4)) =!= 0
    val baseAssign = graft.operators.Clustering.clustersFromPairs(
      pairs.filter(baseA && baseB),
      corpus.filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id")))
    val delta = pairs.filter(!baseA || !baseB)
    assert(!delta.isEmpty, "fixture must leave delta edges to fold")
    val (n, pinned) = EventStreams.rehearseClusterMapFold(baseAssign,
      delta)
    // no new nodes: the drained map is exactly the folded state
    val drained = EventStreams.drainClusterMap(baseAssign, delta,
      corpus.select(col("doc_id")).limit(0))
    // pinned is the persistent-RDD delta over the fold: nothing may
    // accumulate; it can read below 0 when an earlier test's
    // non-blocking unpersist lands during the call
    assert(n == drained.count() && pinned <= 0)
  }

  test("grep guard: the drain runner is the only streaming start() " +
      "in src/main") {
    import scala.jdk.CollectionConverters._
    val ws = Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try ws.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally ws.close()
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f,
        java.nio.charset.StandardCharsets.UTF_8).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") &&
        (code.contains(".start()") || code.contains("awaitTermination("))
    } yield s"${f.getFileName}:${i + 1}: $code"
    assert(hits.size == 1 && hits.head.startsWith("EventStreams.scala:") &&
      hits.head.endsWith(
        "writer.trigger(Trigger.AvailableNow()).start().awaitTermination()"),
      hits.mkString("\n"))
  }
}
