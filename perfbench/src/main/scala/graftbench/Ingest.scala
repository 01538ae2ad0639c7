package graftbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BidExports, ExportParquet, Normalize}
import graft.sources.{GraftTable, GraftTableFormat}
import graft.sources.kafka.{KafkaStubBroker, KafkaWireClient}
import graft.streaming.{BidPipeline, ServiceMain}

/** The ingest workload: a backlog of frames staged on an in-process
  * 4-partition Kafka broker during set-up, drained through
  * `ServiceMain.run` in Kafka wire mode under the commit log (closed
  * loop: the next drain starts when the previous query has ended with
  * both sinks committed). */
object Ingest {

  val Topic = "bids"
  val KafkaPartitions = 4
  /** Frames per micro-batch (`--max-offsets`): a quarter of the
    * reference's 122,880-row batch, so two drains fit one run. */
  val BatchFrames = 30720
  val Triggers = 2
  val Logname = "ortb.bid-requests"
  val Sinks = Seq("raw", "hourly_requests_agg")

  /** Each trigger's frames span 1.5 event hours, so a trigger writes 1-2
    * hour partitions per sink: the production layout. */
  def spec(seed: Long): Gen.Spec =
    Gen.Spec(seed, Triggers * BatchFrames, BatchFrames, 3 * Gen.HourUs / 2)

  /** A staged backlog: the topic on an in-process broker. */
  final class Staged(val spec: Gen.Spec, val broker: KafkaStubBroker) {
    def close(): Unit = broker.close()
  }

  def stage(spark: SparkSession, spec: Gen.Spec, cores: Int): Staged = {
    val broker = new KafkaStubBroker(KafkaPartitions)
    try {
      val port = broker.port
      // partition p holds positions p, p+4, ... in order, so event time
      // rises along every partition and each trigger covers 1-2 hours
      Gen.frames(spark, spec, 4 * cores)
        .repartition(KafkaPartitions, pmod(col("pos"), lit(KafkaPartitions)))
        .sortWithinPartitions("pos")
        .select(pmod(col("pos"), lit(KafkaPartitions)).cast("int").as("p"),
          unix_millis(col("timestamp")).as("tm"), col("value"))
        .foreachPartition { (rows: Iterator[Row]) =>
          if (rows.hasNext) {
            val client = new KafkaWireClient("localhost", port, "perfbench-producer")
            try rows.grouped(8192).foreach { chunk =>
              chunk.groupBy(_.getInt(0)).foreach { case (p, rs) =>
                client.produce(Topic, p,
                  rs.map(r => (r.getLong(1), null: Array[Byte], r.getAs[Array[Byte]](2))).toSeq)
              }
            } finally client.close()
          }
        }
      new Staged(spec, broker)
    } catch { case e: Throwable => broker.close(); throw e }
  }

  def args(s: Staged, out: String, cores: Int): ServiceMain.Args = ServiceMain.Args(
    brokers = Some(s.broker.bootstrapServers), topic = Some(Topic),
    export = s"$out/export", checkpoint = s"$out/ckpt", metrics = s"$out/metrics.json",
    maxOffsets = BatchFrames, cores = cores, availableNow = true, commitLog = true)

  /** One drain's measurements and check outcome. */
  final case class Drain(wallS: Double, batchS: Seq[Double], readbackS: Double,
                         bytes: Long, rejected: Long, layers: Map[String, Double],
                         failures: Seq[String])

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Drain the staged backlog once into fresh export and checkpoint
    * directories, read the committed exports back, check them against
    * the closed-form expectations, and delete the directories. */
  def drain(spark: SparkSession, s: Staged, exp: Gen.Expected, out: String,
            cores: Int, probe: Probe): Drain = {
    probe.reset()
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    try ServiceMain.run(spark, args(s, out, cores))
    catch { case e: Throwable => fails += s"stream failed: ${e.getMessage}" }
    val wall = (System.nanoTime() - t0) / 1e9
    probe.drain()
    fails ++= probe.failedQueries.map("stream terminated: " + _)
    val batches = probe.progress.filter(_.numInputRows > 0).toSeq
    val layers = if (probe.full) Layers.drain(probe) else Map.empty[String, Double]
    val offered = batches.map(_.numInputRows).sum
    if (offered != exp.frames) fails += s"frames offered $offered != ${exp.frames}"

    // a reader over the committed exports: full counts of both sinks and
    // one read pruned to the busiest hour
    val root = s"$out/export/$Logname"
    val h = java.time.Instant.ofEpochMilli(exp.probeHourUs / 1000).atZone(java.time.ZoneOffset.UTC)
    val r0 = System.nanoTime()
    val (raw, requests, probeRows) = try {
      val rawDf = GraftTable.read(spark, root, "raw")
      (rawDf.count(),
        GraftTable.read(spark, root, "hourly_requests_agg").agg(sum("requests")).head().getLong(0),
        rawDf.where(col("year") === h.getYear && col("month") === h.getMonthValue &&
          col("day") === h.getDayOfMonth && col("hour") === h.getHour).count())
    } catch { case e: Throwable => fails += s"readback failed: ${e.getMessage}"; (-1L, -1L, -1L) }
    val readback = (System.nanoTime() - r0) / 1e9
    probe.drain()

    val rejected = exp.frames - raw
    if (rejected != exp.poison) fails += s"rejected $rejected != injected poison ${exp.poison}"
    if (requests != exp.requests) fails += s"sum(requests) $requests != ${exp.requests}"
    if (probeRows != exp.probeRows) fails += s"hour probe rows $probeRows != ${exp.probeRows}"
    val written = probe.writes.filter(_.path.endsWith("/raw")).map(_.rows).sum
    if (written != raw) fails += s"readback raw $raw != written $written"
    val bytes = Sinks.map(n => bytesUnder(new File(s"$root/$n"))).sum
    deleteTree(new File(out))
    Drain(wall, batches.map(_.durationMs.get("triggerExecution").longValue / 1e3),
      readback, bytes, rejected, layers, fails.toSeq)
  }

  /** Fetch every staged record with the wire client, as a source task
    * does: (records, seconds). */
  def fetchAll(s: Staged): (Long, Double) = {
    val t0 = System.nanoTime()
    var fetched = 0L
    val c = new KafkaWireClient("localhost", s.broker.port, "perfbench-fetch")
    try (0 until KafkaPartitions).foreach { p =>
      var off = 0L; val end = s.broker.endOffset(Topic, p)
      while (off < end) {
        val r = c.fetch(Topic, p, off)
        fetched += r.records.size
        off = if (r.records.isEmpty) end else r.records.last.offset + 1
      }
    } finally c.close()
    (fetched, (System.nanoTime() - t0) / 1e9)
  }

  /** Replays the first trigger's frames through the calls
    * `BidPipeline.exportBatch` makes, each in its own span, then reads
    * the committed table back. */
  def replay(spark: SparkSession, s: Staged, out: String, cores: Int,
             spans: Spans, probe: Probe): Map[String, Double] = {
    val (fetched, fetchS) = spans("kafka.fetch")(fetchAll(s))
    val frames = Gen.frames(spark, s.spec, 4 * cores).where(col("pos") < BatchFrames)
      .select("value", "timestamp").cache()
    val nFrames = frames.count()
    val root = s"$out/export/$Logname"
    val t0 = System.nanoTime()
    spans("proto.decode") {
      BidPipeline.decode(frames, stripPrefix = true).write.format("noop").mode("overwrite").save()
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    val batch = BidPipeline.decode(frames, stripPrefix = true).persist()
    spans("replay.export_batch") {
      spans("stream.persist")(batch.count())
      spans("export.raw_write")(ExportParquet.writeBatch(
        ExportParquet.withPartitionCols(batch,
          col("timestamp.seconds") * 1000 + (col("timestamp.nanos") / 1000000).cast("long")),
        s"$root/raw", 0L))
      spans("export.agg_write")(ExportParquet.writeBatch(
        BidExports.hourlyRequestsAgg(Normalize(batch))
          .withColumn("year", year(col("date")))
          .withColumn("month", month(col("date")))
          .withColumn("day", dayofmonth(col("date"))),
        s"$root/hourly_requests_agg", 0L))
      spans("table.commit")(GraftTableFormat.commit(spark, root, 0L))
    }
    val commitS = spans.all.filter(_.name == "table.commit").map(x => (x.endNs - x.startNs) / 1e9).sum
    val decoded = batch.count()
    batch.unpersist(); frames.unpersist()
    // table.read_plan_s: from the call until the read's first task starts
    probe.drain(); probe.firstTaskMs = Long.MaxValue
    val m0 = System.currentTimeMillis()
    spans("table.read")(GraftTable.read(spark, root, "raw").count())
    probe.drain()
    deleteTree(new File(out))
    Map(
      "kafka.fetch_msgs_per_s" -> fetched / fetchS,
      "kafka.records" -> fetched.toDouble,
      "proto.decode_s" -> decodeS,
      "proto.decode_msgs_per_s" -> nFrames / decodeS,
      "replay.frames" -> nFrames.toDouble,
      "replay.rejected" -> (nFrames - decoded).toDouble,
      "table.commit_s" -> commitS,
      "table.read_plan_s" -> (probe.firstTaskMs - m0) / 1e3)
  }
}
