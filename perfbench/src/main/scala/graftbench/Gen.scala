package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ProtoPipeline
import graft.sources.proto.ProtoFunctions.protoEncode

/** Seeded input generator for the ingest workloads.
  *
  * Every row is a pure function of (spec, position), so the same seed
  * always yields the same frames and the closed-form expectations below
  * are computed from the same function the frames are encoded from. The
  * seed picks the order of event ids (a bijection of the positions), the
  * id offset, the user/type/value draws and which positions are poison.
  * The program sees only the encoded frames.
  */
object Gen {

  val Micros: Long = 1000000L
  val HourUs: Long = 3600L * Micros
  /** 2024-01-01T00:00:00Z, an hour boundary. */
  val T0Us: Long = 1704067200L * Micros
  /** One frame in `PoisonEvery` (0.1%) is truncated, at seeded positions. */
  val PoisonEvery = 1000
  /** Kept bytes of a poison frame: 6-byte prefix, then field 1's tag and
    * length and 2 of its ≥7 bytes, so the cut falls inside a
    * length-delimited field. */
  val PoisonBytes = 10

  /** `n` frames whose timestamps rise with position, `perTriggerUs` per
    * `triggerFrames` frames, so each trigger covers a short time range. */
  final case class Spec(seed: Long, n: Int, triggerFrames: Int, perTriggerUs: Long)

  final case class Ev(pos: Long, event_id: Long, ts_us: Long, user_id: Long,
                      event_type: String, value: Double, poison: Boolean)

  private val Types = Array("click", "view", "purchase", "signup", "share")

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def draw(seed: Long, j: Long, k: Int, bound: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 31 + k) ^ j), bound)

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Seeded bijection on [0, n): position -> id slot. */
  private def permutation(s: Spec): (Long, Long) = {
    var a = 1 + draw(s.seed, 0, 1, math.max(1, s.n - 1).toLong)
    while (gcd(a, s.n) != 1) a += 1
    (a, draw(s.seed, 0, 2, s.n))
  }
  private def idBase(s: Spec): Long = (1 + draw(s.seed, 0, 3, 1000)) * 1000000L

  def row(s: Spec, perm: (Long, Long), base: Long, pos: Long): Ev = {
    val j = (perm._1 * pos + perm._2) % s.n
    Ev(pos, base + j, T0Us + pos * s.perTriggerUs / s.triggerFrames, draw(s.seed, j, 5, 10000),
      Types(draw(s.seed, j, 6, Types.length).toInt),
      draw(s.seed, j, 7, 10000) / 100.0,
      draw(s.seed, pos, 8, PoisonEvery) == 0)
  }

  def rows(s: Spec): Iterator[Ev] = {
    val perm = permutation(s); val base = idBase(s)
    Iterator.range(0, s.n).map(p => row(s, perm, base, p.toLong))
  }

  /** Closed-form outcome of draining the frames through the service. */
  final case class Expected(frames: Long, poison: Long, requests: Long,
                            probeHourUs: Long, probeRows: Long)

  def expected(s: Spec): Expected = {
    var poison = 0L; var requests = 0L
    val perHour = scala.collection.mutable.Map.empty[Long, Long]
    rows(s).foreach { e =>
      if (e.poison) poison += 1
      else {
        // one normalized row per deal; no deal -> one row with NULL deal
        requests += math.max(1L, e.event_id % 3)
        val h = e.ts_us / HourUs * HourUs
        perHour(h) = perHour.getOrElse(h, 0L) + 1
      }
    }
    val (probe, probeRows) = perHour.maxBy { case (h, c) => (c, -h) }
    Expected(s.n, poison, requests, probe, probeRows)
  }

  /** Frames as the service reads them: `value` = 6-byte prefix + proto
    * payload (poison rows cut to [[PoisonBytes]]), `timestamp` = the
    * event time the broker (or the frame file) carries, plus `pos`. */
  def frames(spark: SparkSession, s: Spec, slices: Int): DataFrame = {
    import spark.implicits._
    val perm = permutation(s); val base = idBase(s)
    val full = concat(lit(Array[Byte](0, 0, 0, 0, 0, 42)),
      protoEncode(ProtoPipeline.bidStruct, ProtoPipeline.genBid))
    spark.range(0, s.n, 1, slices).as[Long]
      .map(p => row(s, perm, base, p))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select(col("pos"),
        when(col("poison"), substring(full, 1, PoisonBytes))
          .otherwise(full).as("value"),
        col("ts").cast("timestamp").as("timestamp"))
  }
}
