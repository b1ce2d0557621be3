package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.generator.Generator
import graft.streaming.{StreamingJob, StreamingJobConfig}

/** The event_stream workload: `Generator.run` events, written as JSONL
  * chunk files, through the three-sink fan-out of `StreamingJob.start`.
  *
  * The reference's cadence, compressed `Compression` times: its 120
  * ev/s, 10 s bronze/quarantine trigger and 1 min gold trigger become
  * 1200 ev/s, 1 s and 6 s. At that rate a paced gold micro-batch takes
  * well under one trigger period, so the rate is sustainable without a
  * growing backlog (the run records each paced gold batch's time). A
  * backlog is replayed first (all its chunks present at start, read in
  * one micro-batch per sink); then an open-loop leg releases one chunk
  * every 1/100 of the leg for at least three gold trigger periods,
  * whatever the pipeline is doing. The leg starts just after a gold
  * trigger instant (Spark fires processing-time triggers at multiples
  * of the interval), so every run puts the same chunks in the same gold
  * batches and freshness varies only with the time the batches take.
  *
  * Every chunk file gets a strictly later modification time than the
  * one before (set before the file is renamed into the source
  * directory). The file source orders new files by modification time
  * and breaks ties by listing order, so chunks written back to back
  * with equal times can be read out of order and the watermark then
  * drops different late events from run to run. */
object Stream {
  val Compression = 10
  val GoldTriggerMs: Long = 60000L / Compression
  val BronzeTriggerMs: Long = 10000L / Compression
  val BacklogChunks = 100
  val BacklogChunkEvents = 144
  val PacedChunks = 100
  val MinPeriods = 3
  /** The whole backlog in one micro-batch; far above the 34 chunks of
    * one gold trigger period in the paced leg. */
  val MaxFilesPerTrigger = 100

  final case class MicroBatch(batchId: Long, rows: Long, commitMs: Long, durS: Double,
                              progress: StreamingQueryProgress)

  def run(spark: SparkSession, seed: Long, seconds: Double, k: Int, runDir: String,
          ledger: Ledger, trace: Boolean): Map[String, Any] = {
    // the leg covers whole gold periods, at least MinPeriods and at
    // least the run's measuring time, in 100 chunks at the compressed rate
    val periods = math.max(MinPeriods, math.ceil(seconds * 1000 / GoldTriggerMs).toInt)
    val pacedChunks = PacedChunks
    val intervalMs = periods * GoldTriggerMs / pacedChunks
    val pacedChunkEvents = (120 * Compression * intervalMs / 1000).toInt
    val total = BacklogChunks * BacklogChunkEvents + pacedChunks * pacedChunkEvents

    val g0 = System.nanoTime()
    val gen = Generator.run(Generator.RunConfig("perfbench", seed = seed, totalEvents = total,
      startAt = Instant.parse("2024-01-01T00:00:00Z")))
    val genS = (System.nanoTime() - g0) / 1e9

    val dir = s"$runDir/stream"
    val inDir = Paths.get(dir, "in")
    Files.createDirectories(inDir)
    writeGenerated(gen.events, s"$dir/generated.csv")

    val lines = gen.events.map(_.json)
    val chunks: Seq[Seq[String]] =
      lines.take(BacklogChunks * BacklogChunkEvents).grouped(BacklogChunkEvents).toSeq ++
        lines.drop(BacklogChunks * BacklogChunkEvents).grouped(pacedChunkEvents).toSeq
    val mtime0 = (System.currentTimeMillis() / 1000) * 1000
    def release(i: Int): Unit = {
      val tmp = inDir.resolve(f".chunk-$i%05d.tmp")
      Files.write(tmp, chunks(i).mkString("\n").getBytes("UTF-8"))
      require(tmp.toFile.setLastModified(mtime0 + i * 1000L), s"cannot set mtime of $tmp")
      Files.move(tmp, inDir.resolve(f"chunk-$i%05d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    }
    (0 until BacklogChunks).foreach(release)

    // the engine's stream sizing: own session, shuffle width min(k, 8)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", math.min(k, 8).toString)
    ss.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    val raw = ss.readStream
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .text(inDir.toString)
      .select(col("value").as("raw_value"))
      .withColumn("source_topic", lit("perfbench"))
      .withColumn("source_partition", lit(0))
      .withColumn("source_offset", xxhash64(col("raw_value")))
    val cfg = StreamingJobConfig(
      checkpointRoot = s"$dir/ckpt", bronzePath = s"$dir/bronze",
      quarantinePath = s"$dir/quarantine", goldPath = s"$dir/gold",
      bronzeTrigger = Trigger.ProcessingTime(BronzeTriggerMs),
      goldTrigger = Trigger.ProcessingTime(GoldTriggerMs))

    val job = StreamingJob.start(ss, raw, cfg)
    var error = ""
    var backlogS = Double.NaN
    var heapPeak = 0.0
    var backlogBatches = Seq(0, 0, 0)
    val scheduledMs = new Array[Long](pacedChunks)
    val lagMs = new Array[Long](pacedChunks)
    val phases = scala.collection.mutable.LinkedHashMap("gen" -> genS)
    val chunkRows = chunks.map(_.size.toLong)
    val prefix = chunkRows.scanLeft(0L)(_ + _).tail
    try {
      val t0 = System.nanoTime()
      awaitCommitted(job, prefix(BacklogChunks - 1))
      backlogS = (System.nanoTime() - t0) / 1e9
      backlogBatches = job.all.map(q => batchesOf(q).size)
      heapPeak = Heap.liveMb()

      val now = System.currentTimeMillis()
      val legStart = (now / GoldTriggerMs + 1) * GoldTriggerMs + 100
      for (j <- 0 until pacedChunks) {
        scheduledMs(j) = legStart + j * intervalMs
        val wait = scheduledMs(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        release(BacklogChunks + j)
        lagMs(j) = System.currentTimeMillis() - scheduledMs(j)
      }
      val legEnd = System.nanoTime()
      awaitCommitted(job, prefix.last)
      phases("drain") = (System.nanoTime() - legEnd) / 1e9
      phases("leg") = (legEnd - t0) / 1e9 - backlogS
      heapPeak = math.max(heapPeak, Heap.liveMb())
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] stream FAILED: $e")
        error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally {
      val t = System.nanoTime()
      job.stopAll()
      phases("stop") = (System.nanoTime() - t) / 1e9
    }
    ledger.fence(spark.sparkContext)

    val sinks = Seq("bronze" -> job.bronze, "quarantine" -> job.quarantine, "gold" -> job.gold)
    val batches: Map[String, Seq[MicroBatch]] = sinks.map { case (n, q) => n -> batchesOf(q) }.toMap
    // a chunk is done once every sink has committed a batch that read it
    val rowsDone = batches.values.map(_.map(_.rows).sum).min
    val done = prefix.count(_ <= rowsDone)

    // per paced chunk: scheduled release -> commit of the sink's first
    // micro-batch whose cumulative input reaches the end of the chunk
    // (a file is never split across micro-batches)
    def landed(sink: String): Seq[Option[Double]] = {
      val cum = batches(sink).map(_.rows).scanLeft(0L)(_ + _).tail
      (0 until pacedChunks).map { j =>
        val i = cum.indexWhere(_ >= prefix(BacklogChunks + j))
        if (i < 0) None else Some((batches(sink)(i).commitMs - scheduledMs(j)) / 1e3)
      }
    }
    val fresh = landed("gold").flatten
    // a chunk's trip through the whole fan-out: release -> commit by the
    // last of the three sinks (bronze alone spread 0.33 across seeds)
    val chunkLat = sinks.map(x => landed(x._1)).transpose
      .flatMap(perSink => if (perSink.forall(_.isDefined)) Some(perSink.flatten.max) else None)
    // micro-batches of the paced leg per sink; the backlog's (first
    // compilation, state-store creation) are in cold_pass_s. pass_s is
    // their median over all three sinks: the three gold ones alone
    // spread 0.24 across seeds, the first still warming up
    val paced: Map[String, Seq[MicroBatch]] = sinks.zip(backlogBatches).map { case ((n, _), nb) =>
      n -> batches(n).drop(nb) }.toMap
    val groups = sinks.map(_._2.runId.toString).toSet
    val streamWork = ledger.sum(groups)
    val goldWork = ledger.sum(_ == job.gold.runId.toString)
    val stateOps = batches("gold").map(_.progress.stateOperators.toSeq)
    val dropped = stateOps.flatten.map(_.numRowsDroppedByWatermark).sum
    val backlogEvents = prefix(BacklogChunks - 1)

    val metrics = Map(
      "cold_pass_s" -> backlogS,
      "pass_s" -> med(paced.values.flatten.map(_.durS).toSeq),
      "query_p50_s" -> med(chunkLat),
      "query_p90_s" -> (if (chunkLat.isEmpty) Double.NaN else Stats.quantile(chunkLat, 0.9)),
      "task_cpu_s" -> streamWork.cpuNs / 1e9,
      "ingest_events_per_s" -> backlogEvents / backlogS,
      "freshness_p50_s" -> med(fresh),
      "freshness_p90_s" -> (if (fresh.isEmpty) Double.NaN else Stats.quantile(fresh, 0.9)),
      "heap_peak_mb" -> heapPeak)

    val layers: Map[String, Any] = if (!trace) Map.empty else {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val perSink = sinks.flatMap { case (n, _) =>
        val bs = batches(n)
        def phase(k: String) = mean(bs.map(b => Option(b.progress.durationMs.get(k)).map(_.toLong)
          .getOrElse(0L) / 1e3))
        Seq(s"$n.batches" -> bs.size.toDouble,
          s"$n.batch_getbatch_s" -> phase("getBatch"),
          s"$n.batch_planning_s" -> phase("queryPlanning"),
          s"$n.batch_add_s" -> phase("addBatch"),
          s"$n.batch_wal_s" -> phase("walCommit"),
          s"$n.batch_commit_s" -> phase("commitOffsets"))
      }.toMap
      perSink ++ Batch.taskLayers(streamWork, 1.0) ++ Map(
        "analysis_s" -> streamWork.analysisMs / 1e3,
        "optimize_s" -> streamWork.optimizeMs / 1e3,
        "planning_s" -> streamWork.planningMs / 1e3,
        "exchanges" -> streamWork.exchanges.toDouble,
        "gold_merge_s" -> batches("gold").map(b =>
          Option(b.progress.durationMs.get("addBatch")).map(_.toLong).getOrElse(0L) / 1e3).sum,
        "gold_rows_rewritten" -> goldWork.rowsWritten.toDouble,
        "state_rows" -> (if (stateOps.isEmpty) 0.0 else stateOps.map(_.map(_.numRowsTotal).sum).max.toDouble),
        "state_mb" -> (if (stateOps.isEmpty) 0.0
          else stateOps.map(_.map(_.memoryUsedBytes).sum).max / 1048576.0),
        "wm_dropped_rows" -> dropped.toDouble,
        "gen_s" -> genS,
        "release_lag_s" -> lagMs.max / 1e3)
    }

    Map(
      "attempted" -> chunks.size,
      "failed" -> (chunks.size - done),
      "failures" -> (if (error.isEmpty) Nil else Seq(Map("query" -> "stream", "error" -> error))),
      "chunks" -> Map("backlog" -> BacklogChunks, "paced" -> pacedChunks,
        "backlog_events" -> backlogEvents, "paced_events" -> (prefix.last - backlogEvents),
        "interval_ms" -> intervalMs, "gold_trigger_ms" -> GoldTriggerMs, "max_files_per_trigger" -> MaxFilesPerTrigger),
      "batches_with_input" -> batches.map { case (n, b) => n -> b.size },
      "paced_batch_s" -> paced.map { case (n, b) => n -> b.map(_.durS) },
      "phase_s" -> phases,
      "freshness_samples" -> fresh.size,
      "metrics" -> metrics,
      "layers" -> layers,
      "queries" -> Nil,
      "check" -> Map("generated" -> s"$dir/generated.csv", "bronze" -> cfg.bronzePath,
        "quarantine" -> cfg.quarantinePath, "gold" -> cfg.goldPath,
        "wm_dropped" -> dropped, "error" -> error))
  }

  /** Wait until every sink has committed micro-batches covering `rows`
    * input rows. Unlike `processAllAvailable` this does not also wait
    * for the watermark-only batch the gold query runs at its next
    * trigger. */
  private def awaitCommitted(job: StreamingJob, rows: Long): Unit = {
    val deadline = System.nanoTime() + 90L * 1000000000L
    def committed(q: StreamingQuery) = q.recentProgress.map(_.numInputRows).sum
    while (job.all.exists(committed(_) < rows)) {
      job.all.flatMap(_.exception).headOption.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"stream did not commit $rows input rows within 90 s")
      Thread.sleep(20)
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Micro-batches that read input, in batch order, with the wall
    * time at which each committed (trigger start + trigger duration). */
  private def batchesOf(q: StreamingQuery): Seq[MicroBatch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId).map { p =>
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
      MicroBatch(p.batchId, p.numInputRows, Instant.parse(p.timestamp).toEpochMilli + dur, dur / 1e3, p)
    }

  /** The generator's own record of what it emitted, for the checks. */
  private def writeGenerated(events: Seq[Generator.GenEvent], path: String): Unit = {
    val sb = new StringBuilder("event_id,valid,late,user_id,event_type,event_ts\n")
    events.foreach { e =>
      sb.append(e.eventId).append(',').append(e.valid).append(',').append(e.late).append(',')
        .append(e.userId).append(',').append(e.eventType).append(',')
        .append(e.eventTimestamp).append('\n')
    }
    Files.write(Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}
