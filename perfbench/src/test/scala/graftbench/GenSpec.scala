package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.streaming.BidPipeline

/** The benchmark's own checks on its input generator. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.create(2, "perfbench-gen-spec")

  override def afterAll(): Unit = spark.stop()

  private def spec(seed: Long, n: Int) = Gen.Spec(seed, n, n / 2, 3 * Gen.HourUs / 2)

  private def digest(s: Gen.Spec): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Gen.frames(spark, s, 4).orderBy("pos").collect().foreach { r =>
      md.update(r.getAs[Array[Byte]]("value"))
      md.update(BigInt(r.getAs[java.sql.Timestamp]("timestamp").getTime).toByteArray)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives the same frame bytes, another seed other bytes") {
    val a = digest(spec(1, 2000))
    assert(a == digest(spec(1, 2000)))
    assert(a != digest(spec(2, 2000)))
  }

  test("ids are unique and every poison frame is rejected by BidPipeline.decode") {
    val s = spec(3, 20000)
    val rows = Gen.rows(s).toSeq
    assert(rows.map(_.event_id).distinct.size == s.n)
    val poison = rows.filter(_.poison).map(_.pos)
    assert(poison.nonEmpty && poison.size < s.n / 500)
    val frames = Gen.frames(spark, s, 4).cache()
    val isPoison = col("pos").isin(poison: _*)
    assert(BidPipeline.decode(frames.where(isPoison), stripPrefix = true).count() == 0)
    assert(BidPipeline.decode(frames.where(!isPoison), stripPrefix = true).count() ==
      s.n - poison.size)
    frames.unpersist()
  }

  test("closed-form expectations match a drain through ServiceMain at 1,000 frames") {
    // a seed whose 1,000 frames hold poison, so the reject count is tested
    val s = Iterator.from(1).map(i => spec(i, 1000)).find(x => Gen.expected(x).poison > 0).get
    val exp = Gen.expected(s)
    val work = java.nio.file.Files.createTempDirectory("perfbench-gen-spec").toString
    val staged = Ingest.stage(spark, s, 2)
    val probe = new Probe(spark, full = false)
    try {
      val d = Ingest.drain(spark, staged, exp, s"$work/drain", 2, probe)
      assert(d.failures.isEmpty, d.failures.mkString("; "))
      assert(d.rejected == exp.poison)
    } finally {
      probe.close()
      staged.close()
      Ingest.deleteTree(new java.io.File(work))
    }
  }
}
