package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `perfbench/run.py` starts it with:
  *
  *  - `--mode setup`: build the session, run the workload's warm-up
  *    operation, print `READY`, exit (a set-up sample);
  *  - `--mode run`: the same, then run the workload's timed passes
  *    (as many as `--seconds` asks for, see [[Main.rounds]]) and write
  *    the result to `--out`;
  *  - `--mode record`: write every query's result digest to `--out`.
  *
  * One client thread runs one operation at a time (a closed loop). */
object Main {

  /** What a run reports: operation counts, end-to-end metrics (always),
    * per-layer metrics (traced run only), every timed operation's
    * latency and human-readable notes. */
  final case class Outcome(attempted: Long, failed: Long,
      metrics: Map[String, Double], layers: Map[String, Double],
      ops: Seq[(String, Double)], notes: Seq[String])

  val cores = 4

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = args("mode")
    val spark = session()
    val code = try {
      if (mode == "record") { println("READY"); Queries.record(spark, args("data"), args("out")); 0 }
      else {
        val workload = args("workload")
        val tracer = new Tracer(spark, args.get("trace").contains("1"))
        val run: Workload = workload match {
          case "etl_batch" => new EtlBatch(spark, tracer, args("data"), args("work"))
          case "llm_operators" => new Queries(spark, tracer, args("data"), args("digests"),
            args("seed").toLong)
          case w => sys.error(s"unknown workload $w")
        }
        run.warmUp()
        println("READY")
        System.out.flush()
        if (mode == "run") {
          val o = run.run(args("seconds").toDouble)
          val metrics = o.metrics + ("peak_rss_mb" -> peakRssMb())
          val layers = if (tracer.enabled) o.layers else Map.empty[String, Double]
          Files.writeString(Paths.get(args("out")), Json.obj(Seq(
            "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
            "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
            "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
            "ops" -> o.ops.map { case (n, t) => s"[${Json.str(n)},${Json.num(t)}]" }.mkString("[", ",", "]"),
            "notes" -> o.notes.map(Json.str).mkString("[", ",", "]"))) + "\n")
          if (tracer.enabled) Files.writeString(Paths.get(args("out") + ".spans"), tracer.json)
        }
        0
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    // results are on disk; skip the session's orderly shutdown, which
    // would only add seconds to every run (the run directory, Spark's
    // local dirs included, is removed by run.py)
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  /** High-water resident set of this JVM (`VmHWM`), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * (n-10)-th smallest of n samples. Up to ten samples have no such
    * percentile, and the tail is the largest (p100). Returns (value,
    * percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length <= 10) (s.last, 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  /** Timed passes (or cycles) per run: enough passes of nominal length
    * `passS` to fill `seconds`, and at least `least`. The count depends
    * only on the settings, so every run of a workload takes the same
    * number of samples and its tail is the same percentile. */
  def rounds(seconds: Double, passS: Double, least: Int): Int =
    math.max(least, math.ceil(seconds / passS).toInt)

  /** End-to-end latency metrics over one run's timed operations. */
  def latencyMetrics(passWalls: Seq[Double], latencies: Seq[Double],
      notes: mutable.Buffer[String]): Map[String, Double] = {
    val (tailS, pct) = tail(latencies)
    notes += f"query_tail_s is p$pct%.1f of ${latencies.length} samples over ${passWalls.length} passes"
    Map("wall_s" -> median(passWalls), "query_p50_s" -> median(latencies),
      "query_tail_s" -> tailS)
  }
}

/** One workload: an untimed warm-up operation, then a closed loop of
  * timed operations in passes, as many as `seconds` asks for. */
trait Workload {
  def warmUp(): Unit
  def run(seconds: Double): Main.Outcome
}
