package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JSON text helpers (no JSON library on the classpath is assumed). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Heap used after each GC, summed over heap pools, and GC time — read
  * from the JVM's GC notifications between `start` and `stop`. */
final class HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var on = false
  @volatile var peakBytes = 0L
  private var gc0 = 0L; var gcSeconds = 0.0
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, h: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  def start(): Unit = { peakBytes = 0L; gc0 = gcMs; on = true }
  def stop(): Unit = { on = false; gcSeconds = (gcMs - gc0) / 1e3 }
}

/** Benchmark entry: one workload, one seed, one measuring window.
  *
  * {{{
  * graftbench.Main --workload ingest_hourly|query_mix
  *   --seed N --seconds S --trace 0|1 --cores C --work DIR --corpus DIR
  * }}}
  *
  * Writes `DIR/result.json`: the end-to-end metrics (trace 0) or the
  * per-layer metrics (trace 1), operations attempted and failed, the
  * failure messages, and info figures.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, cores: Int = 1, work: String = "",
                        corpus: String = "")

  def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--corpus" :: v :: t => parse(t, o.copy(corpus = v))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** Set-up repetitions whose median is reported in `setup_s`. */
  val SetupReps = 3

  final class Result {
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val env = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L; var failed = 0L
    /** `ops` operations checked; each failure message is one failed
      * operation, at most `ops`. */
    def check(fs: Seq[String], ops: Int = 1): Unit = {
      attempted += ops; failed += math.min(ops, fs.size); failures ++= fs
    }
    def json: String = {
      def m(kv: Iterable[(String, (Double, String))]) = Json.obj(kv.toSeq.map {
        case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
      Json.obj(Seq("attempted" -> attempted.toString, "failed" -> failed.toString,
        "metrics" -> m(metrics), "info" -> m(info),
        "env" -> Json.obj(env.toSeq.map { case (k, v) => k -> Json.str(v) }),
        "failures" -> failures.map(Json.str).mkString("[", ", ", "]")))
    }
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    require(Set("ingest_hourly", "query_mix")(o.workload),
      s"unknown workload '${o.workload}'")
    new File(o.work).mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.create(o.cores, s"perfbench-${o.workload}")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val res = new Result
    res.info("cores") = (o.cores.toDouble, "count")
    res.info("heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576.0, "MB")
    res.env ++= Seq("jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os_arch" -> System.getProperty("os.arch"))
    println(s"[perfbench] cores=${o.cores} heap_max=${Runtime.getRuntime.maxMemory >> 20}MB " +
      res.env.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val spans = new Spans(s"${o.workload}-${o.seed}-${if (o.trace) "trace" else "plain"}")
    val probe = new Probe(spark, full = o.trace)
    val heap = new HeapWatch
    try {
      if (o.workload == "query_mix") runQueries(spark, o, sessionS, res, probe, heap)
      else runIngest(spark, o, sessionS, res, probe, heap, spans)
    } catch {
      case e: Throwable =>
        res.failures += s"workload aborted: $e"; res.attempted += 1; res.failed += 1
    } finally {
      probe.close()
      if (o.trace) spans.write(s"${o.work}/spans.jsonl")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.work}/result.json"), res.json)
      spark.stop()
    }
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run at least two units, then more while more than half the median
    * unit so far is left of the window. */
  private def window[T](seconds: Int)(unit: => (T, Double)): Seq[T] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(T, Double)]
    val t0 = System.nanoTime()
    def left = seconds - (System.nanoTime() - t0) / 1e9
    while (out.size < 2 || left > Stats.median(out.map(_._2).toSeq) / 2) out += unit
    out.map(_._1).toSeq
  }

  def runIngest(spark: SparkSession, o: Opts, sessionS: Double, res: Result,
                probe: Probe, heap: HeapWatch, spans: Spans): Unit = {
    val spec = Ingest.spec(o.seed)
    val (exp, expS) = timed(Gen.expected(spec))
    // set-up: stage the backlog SetupReps times, keep the last one
    var staged: Ingest.Staged = null
    val stageS = (1 to SetupReps).map { _ =>
      if (staged != null) staged.close()
      val (s, t) = timed(Ingest.stage(spark, spec, o.cores))
      staged = s; t
    }
    try {
      val (warm, warmS) = timed(Ingest.drain(spark, staged, exp, s"${o.work}/warm", o.cores, probe))
      res.check(warm.failures)
      res.metrics("setup_s") = (sessionS + expS + Stats.median(stageS) + warmS, "s")
      res.info("setup.session_s") = (sessionS, "s")
      res.info("setup.stage_s") = (Stats.median(stageS), "s")
      res.info("setup.warm_s") = (warmS, "s")
      var n = 0
      heap.start()
      val drains = window(o.seconds) {
        n += 1
        val d = Ingest.drain(spark, staged, exp, s"${o.work}/drain-$n", o.cores, probe)
        res.check(d.failures)
        println(f"[perfbench] drain $n: ${d.wallS}%.2f s")
        (d, d.wallS)
      }
      heap.stop()
      val wall = Stats.median(drains.map(_.wallS))
      val batches = drains.flatMap(_.batchS)
      res.metrics("throughput_per_s") = (exp.frames / wall, "1/s")
      res.metrics("peak_heap_mb") = (heap.peakBytes / 1048576.0, "MB")
      res.info("ingest_msgs_per_s") = (exp.frames / wall, "msg/s")
      res.info("batch_p50_s") = (Stats.median(batches), "s")
      res.info("batches") = (batches.size.toDouble, "count")
      res.info("drains") = (drains.size.toDouble, "count")
      res.info("readback_s") = (Stats.median(drains.map(_.readbackS)), "s")
      res.info("out_bytes_per_msg") = (Stats.median(drains.map(_.bytes.toDouble)) / exp.frames, "B/msg")
      res.info("frames") = (exp.frames.toDouble, "count")
      res.info("poison") = (exp.poison.toDouble, "count")
      res.info("failed_ratio") = (res.failed.toDouble / res.attempted, "ratio")
      if (o.trace) IngestTrace.report(spark, o, staged, drains, res, probe, heap, spans)
    } finally staged.close()
  }

  def runQueries(spark: SparkSession, o: Opts, sessionS: Double, res: Result,
                 probe: Probe, heap: HeapWatch): Unit = {
    val order = QueryMix.order(o.seed)
    // set-up: stage the input SetupReps times, then the checked pass
    // (untimed; doubles as warm-up; its results go to the DuckDB check)
    val stageS = (1 to SetupReps).map(i => timed(QueryMix.stage(spark, o.corpus, o.work, s"setup$i"))._2)
    val ((rows, dumpFails), checkS) = timed(QueryMix.dumpForOracle(spark,
      QueryMix.stage(spark, o.corpus, o.work, "checked"), s"${o.work}/oracle"))
    res.check(dumpFails, QueryMix.Queries.size)
    res.metrics("setup_s") = (sessionS + Stats.median(stageS) + checkS, "s")
    res.info("setup.session_s") = (sessionS, "s")
    res.info("setup.stage_s") = (Stats.median(stageS), "s")
    res.info("setup.check_s") = (checkS, "s")
    var n = 0
    def onePass(): (QueryMix.Pass, Double) = {
      n += 1
      val dir = QueryMix.stage(spark, o.corpus, o.work, s"pass$n")
      val r = timed(QueryMix.pass(spark, dir, order, rows))
      res.check(r._1.failures, order.size)
      println(f"[perfbench] pass $n: ${r._2}%.2f s")
      QueryMix.release(spark)
      r
    }
    probe.reset()
    heap.start()
    val passes = window(o.seconds)(onePass())
    heap.stop()
    val totals = passes.map(_.seconds.values.sum)
    val perQuery = passes.flatMap(_.seconds.values)
    res.metrics("throughput_per_s") = (order.size / Stats.median(totals), "1/s")
    res.metrics("peak_heap_mb") = (heap.peakBytes / 1048576.0, "MB")
    res.info("query_total_s") = (Stats.median(totals), "s")
    res.info("query_p50_s") = (Stats.median(perQuery), "s")
    res.info("passes") = (passes.size.toDouble, "count")
    res.info("failed_ratio") = (res.failed.toDouble / res.attempted, "ratio")
    QueryMix.Queries.foreach { case (q, _) =>
      res.info(s"q.$q") = (Stats.median(passes.map(_.seconds(q))), "s") }
    if (o.trace) QueryTrace.report(passes, res, probe, heap)
  }
}
