package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One query operation: build the frame, then `count()` it, timed as
  * one latency. The traced run also forces `executedPlan` between the
  * two, so build, planning and execution become separate spans. */
object QueryOp {
  def apply(spark: SparkSession, tr: Tracer)(build: => DataFrame): (Double, Long, DataFrame) = {
    tr.newOp()
    val t0 = System.nanoTime()
    val (df, n) = tr.span("query") {
      val df = tr.span("query.build") {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val d = build
        if (tr.enabled)
          tr.note("persisted_rdds", (spark.sparkContext.getPersistentRDDs.keySet -- before).size)
        d
      }
      if (tr.enabled) tr.span("query.plan")(df.queryExecution.executedPlan)
      (df, tr.span("query.exec")(df.count()))
    }
    ((System.nanoTime() - t0) / 1e9, n, df)
  }

  /** Between operations, outside the timed window: drop cached frames
    * and persisted RDDs and collect garbage, as `graft.Bench` does, so
    * no operation runs under the storage a previous one left. */
  def cleanUp(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Order-insensitive digest of a result: its column names, row count
    * and the md5 of its sorted rendered rows. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
    md5.update(df.columns.mkString(",").getBytes("UTF-8"))
    rows.foreach(r => md5.update(("\n" + r).getBytes("UTF-8")))
    (rows.length.toLong, md5.digest().map(b => f"$b%02x").mkString)
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }
}

/** The llm_operators workload over the benchmark's copy of the seed-42
  * testdata. The seed permutes the order of a fixed query set. */
final class Queries(spark: SparkSession, tr: Tracer, dataDir: String,
    digestsPath: String, seed: Long) extends Workload {

  private val catalog = SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val names = Queries.llmOperators
  private val expected: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(digestsPath)).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, rows, md5) = l.split("\t")
      n -> (rows.toLong, md5)
    }.toMap
  (Queries.warmUpQuery +: names).foreach(n =>
    require(catalog.contains(n) && expected.contains(n), s"no query or digest for $n"))
  private val order = new scala.util.Random(seed).shuffle(names)

  def warmUp(): Unit = {
    QueryOp(spark, new Tracer(spark, false))(
      catalog(Queries.warmUpQuery).run(spark, dataDir))
    QueryOp.cleanUp(spark)
  }

  /** First an untimed correctness pass: every query of the set runs
    * once and its collected result must match its recorded digest. It
    * also brings the JIT and Spark's lazily built state to the warm
    * regime a long-lived session runs in. Then timed passes, each query
    * counted with `count()`, which must equal its recorded row count:
    * as many as [[Main.rounds]] gives for [[Queries.passS]]. */
  def run(seconds: Double): Main.Outcome = {
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    def attempt(name: String)(body: => Boolean): Unit = {
      attempted += 1
      val ok = try body catch {
        case e: Exception =>
          notes += s"$name failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          false
      }
      if (!ok) failed += 1
    }
    val wrong = mutable.Set.empty[String]
    order.foreach { name =>
      attempt(name) {
        val ok = QueryOp.digest(catalog(name).run(spark, dataDir)) == expected(name)
        if (!ok) { wrong += name; notes += s"$name: result differs from its recorded digest" }
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        ok
      }
    }
    QueryOp.cleanUp(spark)
    (1 to Main.rounds(seconds, Queries.passS, 2)).foreach { _ =>
      var wall = 0.0
      order.foreach { name =>
        attempt(name) {
          val (lat, n, _) = QueryOp(spark, tr)(catalog(name).run(spark, dataDir))
          wall += lat
          val ok = n == expected(name)._1 && !wrong.contains(name)
          if (ok) ops += name -> lat
          else if (n != expected(name)._1) notes += s"$name: count $n, recorded ${expected(name)._1}"
          QueryOp.cleanUp(spark)
          ok
        }
      }
      passWalls += wall
    }
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val passes = passWalls.length.toDouble
      Queries.layerMetrics(tr, passes) ++ Map(
        "jvm.gc_s" -> tr.rootGcS(_ => true) / passes,
        "trace.wall_s" -> Main.median(passWalls.toSeq))
    }
    Main.Outcome(attempted, failed, Main.latencyMetrics(passWalls.toSeq, ops.map(_._2).toSeq, notes),
      layers, ops.toSeq, notes.toSeq)
  }
}

object Queries {

  /** The llm_operators query set, fixed (the seed only orders it). */
  val llmOperators: Seq[String] =
    // LlmQueries: the iterative graph loops (q110, q182, q49), the
    // dedup and pair-verify operators with their checkpoint barriers
    // and native kernels, ANN top-k, event and session windows, the
    // as-of join, streaming quality windows, the ranking gains table
    // and a few cheap text and sampling operators
    Seq("q110_pagerank", "q182_kcore", "q40_simhash_near_dups", "q49_near_dup_clusters",
      "q92_line_dedup", "q98_bloom_dedup", "q127_edit_distance_pairs", "q29_topk_cosine",
      "q30_ivf_topk", "q43_event_windows", "q47_session_windows",
      "q91_stream_quality_windows", "q26_text_quality", "q41_winnowing",
      "q51_hash_sample", "q73_iqr_outliers", "q56_asof_join", "q169_gains_table") ++
    // RelationalQueries and BusinessQueries, for the layers only they
    // reach: the SCD merge, SCD2 apply and point-in-time reads, the
    // range join, the interval-overlap join (IntervalJoin), rank
    // evaluation (Ranking) and three business dashboard reads
    Seq("q18_range_join", "q21_merge_type1", "q22_scd2_apply", "q24_point_in_time",
      "q189_interval_overlap_join", "q135_rank_eval", "q34_calendar_scalars",
      "q36_sales_by_category_year", "q39_kpis")

  /** The untimed warm-up operation, a query outside the set. */
  val warmUpQuery = "q74_url_canonicalize"

  /** Nominal time of one timed pass over the set on the 4-core host, s. */
  val passS = 10.0

  /** The query-path per-layer metrics, per pass. */
  def layerMetrics(tr: Tracer, passes: Double): Map[String, Double] = {
    val s = tr.summary
    def m(span: String, fields: String*): Seq[(String, Double)] =
      fields.map(f => s"$span.$f" -> s.get(span).map(_.getOrElse(f, 0.0)).getOrElse(0.0) / passes)
    (m("query.build", "wall_s", "jobs", "persisted_rdds") ++
      m("query.plan", "wall_s") ++
      m("query.exec", "wall_s", "idle_s", "jobs", "stages", "tasks", "task_s", "cpu_s",
        "shuffle_bytes", "input_bytes", "spill_bytes")).toMap
  }

  /** Write `name<TAB>rows<TAB>md5` for every declared query. */
  def record(spark: SparkSession, dataDir: String, out: String): Unit = {
    val lines = SparkEntry.allQueries.map { q =>
      val (rows, md5) = QueryOp.digest(q.run(spark, dataDir))
      QueryOp.cleanUp(spark)
      s"${q.name}\t$rows\t$md5"
    }
    Files.writeString(Paths.get(out), lines.sorted.mkString("", "\n", "\n"))
  }
}
