package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The query workload: one client runs the listed `SparkEntry.queries`
  * one after another (closed loop). Every memo in the program is keyed
  * by (session, input dir), so each pass reads the corpus through its
  * own symlink and pays every derivation again. */
object QueryMix {

  /** Query -> family: short relational rows, where fixed per-job cost
    * dominates, beside a streaming-twin row and a text-operator row. */
  val Queries: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational", "q3_shipping_priority" -> "relational",
    "q5_local_supplier" -> "relational",
    "q_stream_semantic" -> "stream_twins",
    "text_tfidf" -> "text")
  val Families: Seq[String] = Queries.map(_._2).distinct

  /** The pass order: a seeded rotation of the list, so every seed runs
    * all queries once per pass. */
  def order(seed: Long): Seq[(String, String)] = {
    val k = java.lang.Math.floorMod(Gen.mix(seed), Queries.size.toLong).toInt
    Queries.drop(k) ++ Queries.take(k)
  }

  /** One pass: seconds, rows and [start, end) epoch ms per query. */
  final case class Pass(seconds: Map[String, Double], rows: Map[String, Long],
                        spans: Map[String, (Long, Long)], warmHits: Long,
                        failures: Seq[String])

  /** A fresh input path: a symlink to the corpus. */
  def passDir(corpus: String, work: String, name: String): String = {
    val link = Paths.get(s"$work/input-$name")
    Files.deleteIfExists(link)
    Files.createSymbolicLink(link, Paths.get(corpus).toAbsolutePath).toString
  }

  /** Input staging for one pass: a fresh path to the corpus, with every
    * table's footers read through the program's loader. */
  def stage(spark: SparkSession, corpus: String, work: String, name: String): String = {
    val dir = passDir(corpus, work, name)
    graft.sources.Tables.all.foreach(t => graft.sources.Tables.load(spark, dir, t).schema)
    dir
  }

  /** Drop what the previous pass cached, so passes do not pile up heap. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** One timed pass: `count()` each query, as `graft.Bench` does. */
  def pass(spark: SparkSession, dir: String, queries: Seq[(String, String)],
           expectRows: Map[String, Long]): Pass = {
    val warm0 = graft.operators.MemoStats.warmHits
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val timed = queries.map { case (name, _) =>
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, dir).count() catch {
        case e: Throwable => fails += s"$name threw: ${e.getMessage}"; -1L
      }
      val s = (System.nanoTime() - t0) / 1e9
      expectRows.get(name).filter(_ != n && n >= 0)
        .foreach(e => fails += s"$name: $n rows, checked pass had $e")
      (name, s, n, (m0, System.currentTimeMillis()))
    }
    Pass(timed.map(t => t._1 -> t._2).toMap, timed.map(t => t._1 -> t._3).toMap,
      timed.map(t => t._1 -> t._4).toMap, graft.operators.MemoStats.warmHits - warm0,
      fails.toSeq)
  }

  /** The checked pass (untimed): every result lands as parquet next to
    * its oracle SQL for the DuckDB comparison. Returns row counts. */
  def dumpForOracle(spark: SparkSession, dir: String, out: String): (Map[String, Long], Seq[String]) = {
    Files.createDirectories(Paths.get(out))
    val fails = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = Queries.flatMap { case (name, _) =>
      try {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$name")
        Some(name -> spark.read.parquet(s"$out/$name").count())
      } catch { case e: Throwable => fails += s"$name threw: ${e.getMessage}"; None }
    }.toMap
    val sql = Queries.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
    (rows, fails.toSeq)
  }
}
