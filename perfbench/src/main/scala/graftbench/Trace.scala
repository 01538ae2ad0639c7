package graftbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of the traced run. Every workload reports the same
  * names; a layer a workload does not exercise reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "kafka.latest_offset_s" -> "s", "kafka.get_batch_s" -> "s",
    "kafka.fetch_msgs_per_s" -> "msg/s", "kafka.records" -> "count",
    "proto.decode_s" -> "s", "proto.decode_msgs_per_s" -> "msg/s", "proto.rejected" -> "count",
    "stream.batches" -> "count", "stream.trigger_s" -> "s", "stream.query_planning_s" -> "s",
    "stream.add_batch_s" -> "s", "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
    "stream.driver_gap_s" -> "s", "stream.add_batch_rest_s" -> "s", "stream.coverage" -> "ratio",
    "export.raw_write_s" -> "s", "export.agg_write_s" -> "s",
    "export.job_commit_s" -> "s", "export.task_commit_s" -> "s",
    "export.files" -> "count", "export.partition_dirs" -> "count", "export.bytes" -> "B",
    "export.write_tasks" -> "count", "export.write_task_skew" -> "ratio",
    "export.shuffle_bytes" -> "B",
    "table.commit_s" -> "s", "table.read_plan_s" -> "s",
    "query.relational_s" -> "s", "query.stream_twins_s" -> "s", "query.text_s" -> "s",
    "query.total_s" -> "s", "query.coverage" -> "ratio",
    "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.task_cpu_s" -> "s", "query.driver_gap_s" -> "s",
    "query.shuffle_bytes" -> "B", "query.spill_bytes" -> "B", "query.memo_warm_hits" -> "count",
    "jvm.gc_s" -> "s", "trace.wall_s" -> "s")

  def fill(res: Main.Result, got: Map[String, Double]): Unit =
    Units.foreach { case (k, u) => res.metrics(k) = (got.getOrElse(k, 0.0), u) }

  /** Per-layer figures of one drain, read from the probe right after
    * `ServiceMain.run` returned. Times are sums over its micro-batches. */
  def drain(probe: Probe): Map[String, Double] = probe.synchronized {
    val batches = probe.progress.filter(_.numInputRows > 0).toSeq
    def dur(k: String) = batches.map(b => Option(b.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val jobIv = probe.jobs.map(j => (j.startMs, j.endMs)).toSeq
    val gap = batches.map { b =>
      val t0 = java.time.Instant.parse(b.timestamp).toEpochMilli
      val d = b.durationMs
      val w = Intervals.union(Intervals.clip(jobIv, t0, t0 + d.get("triggerExecution").longValue))
      math.max(0L, d.get("addBatch").longValue - w) / 1e3
    }.sum
    def sinkWrites(suffix: String) = probe.writes.filter(_.path.endsWith(suffix)).toSeq
    val raw = sinkWrites("/raw"); val agg = sinkWrites("/hourly_requests_agg")
    val all = raw ++ agg
    val writeExecs = probe.executions.collect {
      case (id, (_, _, plan)) if plan.contains("InsertIntoHadoopFsRelationCommand") => id }.toSet
    val writeJobs = probe.jobs.filter(_.execId.exists(writeExecs)).toSeq
    val writeStages = writeJobs.flatMap(j => j.stages.flatMap(probe.stages.get))
    val resultStages = writeJobs.flatMap(j => probe.stages.get(j.stages.max))
    val skews = resultStages.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble))) }
    val trigger = dur("triggerExecution")
    val rawS = raw.map(_.seconds).sum; val aggS = agg.map(_.seconds).sum
    val rest = math.max(0.0, dur("addBatch") - rawS - aggS)
    val path = Seq(dur("latestOffset"), dur("getBatch"), dur("queryPlanning"),
      dur("walCommit"), dur("commitOffsets"), rawS, aggS, rest).sum
    Map(
      "kafka.latest_offset_s" -> dur("latestOffset"), "kafka.get_batch_s" -> dur("getBatch"),
      "stream.batches" -> batches.size.toDouble, "stream.trigger_s" -> trigger,
      "stream.query_planning_s" -> dur("queryPlanning"), "stream.add_batch_s" -> dur("addBatch"),
      "stream.wal_commit_s" -> dur("walCommit"), "stream.commit_offsets_s" -> dur("commitOffsets"),
      "stream.driver_gap_s" -> gap, "stream.add_batch_rest_s" -> rest,
      "stream.coverage" -> (if (trigger > 0) path / trigger else 0.0),
      "export.raw_write_s" -> rawS, "export.agg_write_s" -> aggS,
      "export.job_commit_s" -> all.map(_.jobCommitMs).sum / 1e3,
      "export.task_commit_s" -> all.map(_.taskCommitMs).sum / 1e3,
      "export.files" -> all.map(_.files).sum.toDouble,
      "export.partition_dirs" -> all.map(_.parts).sum.toDouble,
      "export.bytes" -> all.map(_.bytes).sum.toDouble,
      "export.write_tasks" -> resultStages.map(_.tasks).sum.toDouble,
      "export.write_task_skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "export.shuffle_bytes" -> writeStages.map(_.shuffleWrite).sum.toDouble)
  }

  /** Per-key median over drains. */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> Stats.median(ms.map(_.getOrElse(k, 0.0)))).toMap
}

object IngestTrace {
  def report(spark: SparkSession, o: Main.Opts, staged: Ingest.Staged,
             drains: Seq[Ingest.Drain], res: Main.Result, probe: Probe,
             heap: HeapWatch, spans: Spans): Unit = {
    val replay = spans("replay")(Ingest.replay(spark, staged, s"${o.work}/replay", o.cores, spans, probe))
    val got = Layers.medians(drains.map(_.layers)) ++ replay ++ Map(
      "proto.rejected" -> Stats.median(drains.map(_.rejected.toDouble)),
      "jvm.gc_s" -> heap.gcSeconds,
      "trace.wall_s" -> Stats.median(drains.map(_.wallS)))
    res.metrics.clear()
    Layers.fill(res, got)
    spans.selfSeconds.toSeq.sortBy(_._1).foreach { case (k, v) => res.info(s"self.$k") = (v, "s") }
  }
}

object QueryTrace {
  def report(passes: Seq[QueryMix.Pass], res: Main.Result, probe: Probe,
             heap: HeapWatch): Unit = {
    probe.drain()
    val n = passes.size.toDouble
    val fam = QueryMix.Families.map { f =>
      s"query.${f}_s" -> Stats.median(passes.map(p =>
        QueryMix.Queries.filter(_._2 == f).map(q => p.seconds(q._1)).sum))
    }.toMap
    val total = Stats.median(passes.map(_.seconds.values.sum))
    val (jobs, stages) = probe.synchronized((probe.jobs.toSeq, probe.stages.values.toSeq))
    val jobIv = jobs.map(j => (j.startMs, j.endMs))
    val gaps = passes.map(_.spans.map { case (_, (s, e)) =>
      (e - s) - Intervals.union(Intervals.clip(jobIv, s, e)) }.sum / 1e3)
    val got = fam ++ Map(
      "query.total_s" -> total,
      "query.coverage" -> fam.values.sum / total,
      "query.jobs" -> jobs.size / n, "query.stages" -> stages.size / n,
      "query.tasks" -> stages.map(_.tasks).sum / n,
      "query.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "query.driver_gap_s" -> Stats.median(gaps),
      "query.shuffle_bytes" -> stages.map(_.shuffleWrite).sum / n,
      "query.spill_bytes" -> stages.map(_.spill).sum / n,
      "query.memo_warm_hits" -> Stats.median(passes.map(_.warmHits.toDouble)),
      "jvm.gc_s" -> heap.gcSeconds / n,
      "trace.wall_s" -> total)
    res.metrics.clear()
    Layers.fill(res, got)
  }
}
