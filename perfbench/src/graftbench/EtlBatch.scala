package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The paper's own pipeline on a generated walmart-schema CSV: batch 1
  * is an initial `Pipeline.run` into an empty warehouse, batch 2 an
  * incremental run over it (SCD1 merge, SCD2 expire + version, fact
  * rebuild). After each batch the reference's post-load verification
  * (`EtlChecks`) reads the fresh warehouse. One cycle = both batches in
  * a fresh warehouse.
  *
  * `dataDir` holds batch1.csv, batch2.csv and truth.json from
  * gen_walmart.py; warehouses are created under `workDir`. */
final class EtlBatch(spark: SparkSession, tr: Tracer, dataDir: String, workDir: String)
    extends Workload {

  private val batches = Seq(
    ("load", s"$dataDir/batch1.csv", RunContext("2013-01-10")),
    ("incr", s"$dataDir/batch2.csv", RunContext("2013-01-11")))
  private val truth: Map[String, Long] = {
    val body = Files.readString(Paths.get(s"$dataDir/truth.json"))
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
  private val folds = batches.map { case (_, csv, _) => CsvFold(csv) }
  private var cycles = 0
  private var attempted, failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]
  private val ops = mutable.ArrayBuffer.empty[(String, Double)]
  /** Of the `Pipeline.run` cycles: each batch's latency, each verify
    * read's latency, the warehouse footprint after batch 2 (bytes per
    * CSV byte, files) and each batch's per-table counts. */
  private val batchWalls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val verifyWalls = mutable.ArrayBuffer.empty[Double]
  private val footprint = mutable.ArrayBuffer.empty[(Double, Double)]
  private val reported = mutable.Map.empty[String, Map[String, Long]]

  def warmUp(): Unit = CsvSource.read(spark, batches.head._2).count()

  /** Cycles through `Pipeline.run`, as many as [[Main.rounds]] gives
    * for a nominal cycle of [[EtlBatch.cycleS]]. The traced run then
    * adds one cycle through
    * [[layeredBatch]], whose spans give the per-layer breakdown; every
    * other figure comes from the `Pipeline.run` cycles. */
  def run(seconds: Double): Main.Outcome = {
    val cycleWalls = mutable.ArrayBuffer.empty[Double]
    (1 to Main.rounds(seconds, EtlBatch.cycleS, 1)).foreach(_ => cycleWalls += cycle(layered = false))
    if (tr.enabled) cycle(layered = true)
    val n = cycleWalls.length.toDouble
    notes += f"etl_load_s ${Main.median(batchWalls("load").toSeq)}%.4f " +
      f"etl_incr_s ${Main.median(batchWalls("incr").toSeq)}%.4f " +
      f"space_amp ${footprint.last._1}%.4f wh_files ${footprint.last._2.toLong}"
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val s = tr.summary
      def v(span: String, f: String, per: Double) =
        s.get(span).map(_.getOrElse(f, 0.0)).getOrElse(0.0) / per
      val etl = for {
        phase <- Seq("load", "incr")
        layer <- Seq("ods", "staging", "target", "report")
        f <- Seq("wall_s", "idle_s", "jobs", "tasks", "task_s", "cpu_s", "shuffle_bytes",
          "out_bytes", "files_created", "files_deleted")
      } yield s"etl.$phase.$layer.$f" -> v(s"etl.$phase.$layer", f, 1)
      val builds = for {
        phase <- Seq("load", "incr"); layer <- Seq("ods", "staging", "target")
      } yield s"etl.$phase.$layer.build_s" -> v(s"etl.$phase.$layer.build", "wall_s", 1)
      val verify = Seq("wall_s", "idle_s", "jobs", "tasks").map(f =>
        s"etl.verify.$f" -> v("etl.verify", f, n * EtlBatch.verifyReps))
      (etl ++ builds ++ verify).toMap ++ Queries.layerMetrics(tr, n) ++ Map(
        "etl.load.wall_s" -> Main.median(batchWalls("load").toSeq),
        "etl.incr.wall_s" -> Main.median(batchWalls("incr").toSeq),
        "etl.space_amp" -> Main.median(footprint.map(_._1).toSeq),
        "etl.wh_files" -> Main.median(footprint.map(_._2).toSeq),
        "jvm.gc_s" -> tr.rootGcS(Set("etl.load", "etl.incr", "etl.verify")) / n,
        "trace.wall_s" -> Main.median(cycleWalls.toSeq))
    }
    Main.Outcome(attempted, failed, Main.latencyMetrics(cycleWalls.toSeq, verifyWalls.toSeq, notes),
      layers, ops.toSeq, notes.toSeq)
  }

  /** One operation: `body` returns the failed checks' messages. */
  private def attempt(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val errs = try body catch {
      case e: Exception => Seq(s"failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    if (errs.nonEmpty) { failed += 1; notes ++= errs.map(e => s"$name: $e") }
    QueryOp.cleanUp(spark)
  }

  /** One cycle in a fresh warehouse: each batch, then (through
    * `Pipeline.run` only) its verify reads. Returns the summed latency
    * of the cycle's timed operations. */
  private def cycle(layered: Boolean): Double = {
    val wh = s"$workDir/warehouse-$cycles"
    cycles += 1
    var wall = 0.0
    batches.zip(folds).zipWithIndex.foreach { case (((phase, csv, ctx), fold), b) =>
      attempt(phase) {
        tr.newOp()
        val t0 = System.nanoTime()
        val counts =
          if (layered) tr.span(s"etl.$phase.layered")(layeredBatch(wh, csv, ctx, phase))
          else tr.span(s"etl.$phase")(Pipeline.run(spark, csv, wh, ctx))
        val lat = (System.nanoTime() - t0) / 1e9
        val drift =
          if (!layered) {
            wall += lat
            batchWalls.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += lat
            ops += phase -> lat
            reported(phase) = counts
            Nil
          } else {
            val want = reported.getOrElse(phase, Map.empty[String, Long])
            (counts.keySet ++ want.keySet).toSeq.sorted
              .filter(t => counts.get(t) != want.get(t))
              .map(t => s"$t: the layered copy of Pipeline.run counted ${counts.get(t)}, " +
                s"Pipeline.run ${want.get(t)}")
          }
        drift ++ check(wh, counts, fold, b)
      }
      if (!layered) wall += verify(wh, phase, fold)
    }
    if (!layered) {
      val (bytes, files) = EtlBatch.du(new File(wh))
      val csvBytes = batches.map(b => new File(b._2).length()).sum.toDouble
      footprint += ((bytes / csvBytes, files.toDouble))
    }
    EtlBatch.rm(new File(wh))
    wall
  }

  /** The reference's post-load verification over the warehouse after a
    * batch, as `EtlChecks` computes it: the ODS orphan counts, the ODS
    * volumes and the staging business ratios. Each check runs
    * [[EtlBatch.verifyReps]] times back to back, each time as one timed
    * read whose values are checked outside the timed window; its sample
    * is the fastest, as `graft.Bench` takes each query's minimum over
    * repetitions. Returns the summed samples. */
  private def verify(wh: String, phase: String, fold: CsvFold.Totals): Double = {
    val w = new Warehouse(spark, wh)
    var wall = 0.0
    def read[T](name: String)(call: => T)(errors: T => Seq[String]): Unit = {
      val lats = mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to EtlBatch.verifyReps) attempt(s"$phase.$name") {
        tr.newOp()
        val t0 = System.nanoTime()
        val r = tr.span("etl.verify")(call)
        lats += (System.nanoTime() - t0) / 1e9
        errors(r)
      }
      if (lats.nonEmpty) {
        wall += lats.min
        verifyWalls += lats.min
        ops += s"$phase.$name" -> lats.min
      }
    }
    read("ods_orphans")(EtlChecks.odsOrphans(EtlBatch.odsTables(w)))(
      _.toSeq.sorted.collect { case (k, n) if n != 0 => s"orphans $k: got $n, want 0" })
    read("ods_volumes")(EtlChecks.odsVolumes(EtlBatch.odsTables(w)))(v =>
      if (v("sales_rows") == fold.rows) Nil
      else Seq(s"ods sales_rows: got ${v("sales_rows")}, want ${fold.rows}"))
    read("staging_ratios")(EtlChecks.stagingRatios(EtlBatch.stagingTables(w)))(
      _.toSeq.sorted.collect { case (k, p) if !(p >= 0 && p <= 100) => s"$k: $p is not a percentage" })
    wall
  }

  /** One batch taken through the layers' public entry points, so that
    * each layer gets its own span and warehouse path diff. It mirrors
    * `Pipeline.run` step for step: clear the cache; CSV -> `OdsLayer`
    * -> `writeAll`; re-read -> `StagingLayer` -> `writeAll`; re-read ->
    * `TargetLayer` -> `writeAll` with `factPartitions`; count every
    * table. A change to `Pipeline.run` has to be made here too: a
    * traced run fails when these per-table counts differ from
    * `Pipeline.run`'s on the same batch. */
  private def layeredBatch(wh: String, csv: String, ctx: RunContext,
      phase: String): Map[String, Long] = {
    val w = new Warehouse(spark, wh)
    def layer[T](name: String)(body: => T): T = tr.span(s"etl.$phase.$name") {
      val before = EtlBatch.files(new File(wh))
      val r = body
      val after = EtlBatch.files(new File(wh))
      tr.note("files_created", (after -- before).size)
      tr.note("files_deleted", (before -- after).size)
      r
    }
    def build[T](name: String)(body: => T): T = tr.span(s"etl.$phase.$name.build")(body)
    spark.catalog.clearCache()
    layer("ods") {
      val ods = build("ods")(OdsLayer.build(CsvSource.read(spark, csv), ctx))
      w.writeAll(ods.all)
    }
    layer("staging") {
      val stg = build("staging")(StagingLayer.build(EtlBatch.odsTables(w), ctx))
      w.writeAll(stg.all)
    }
    layer("target") {
      val tgt = build("target")(TargetLayer.build(EtlBatch.stagingTables(w), w.readIfExists, ctx))
      w.writeAll(tgt.all, Pipeline.factPartitions)
    }
    layer("report")(w.tables().map(t => t -> w.read(t).count()).toMap)
  }

  /** Correctness of the warehouse after batch `b`, checked against the
    * generator's truth and an independent fold of the CSV lines. */
  private def check(wh: String, counts: Map[String, Long], fold: CsvFold.Totals,
      b: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    val w = new Warehouse(spark, wh)
    val f = w.read("tgt_fact_sales").agg(count(lit(1)),
      countDistinct("customer_key"), countDistinct("product_key"),
      sum("profit"), sum("sales_amount"), sum("order_quantity")).first()
    def cents(d: Double): Long = math.round(d * 100)
    expect("fact rows", f.getLong(0), fold.rows)
    expect("fact customers", f.getLong(1), fold.customers)
    expect("fact products", f.getLong(2), fold.products)
    expect("fact profit cents", cents(f.getDouble(3)), fold.profitCents)
    expect("fact sales cents", cents(f.getDouble(4)), fold.salesCents)
    expect("fact quantity", f.getLong(5), fold.quantity)
    Seq("ods_sales", "stg_sales", "tgt_fact_sales").foreach(t => expect(s"$t rows", counts(t), fold.rows))
    val versioned = if (b == 0) Map("product" -> 0L, "store" -> 0L)
      else Map("product" -> truth("repriced_products"), "store" -> truth("moved_cities"))
    versioned.foreach { case (dim, want) =>
      expect(s"tgt_dim_$dim rows with version > 1",
        w.read(s"tgt_dim_$dim").where(col("version") > 1).count(), want)
    }
    errs.toSeq
  }
}

object EtlBatch {

  /** Nominal time of one cycle on the 4-core host, s. */
  val cycleS = 35.0

  /** Runs of each verify read per batch. A single sub-second read
    * scattered by 9-23% of its median from run to run. */
  val verifyReps = 3

  def odsTables(w: Warehouse): OdsLayer.Tables = OdsLayer.Tables(
    date = w.read("ods_date"), customer = w.read("ods_customer"),
    supplier = w.read("ods_supplier"), product = w.read("ods_product"),
    store = w.read("ods_store"), returnReason = w.read("ods_return_reason"),
    sales = w.read("ods_sales"), returns = w.read("ods_returns"),
    inventory = w.read("ods_inventory"))

  def stagingTables(w: Warehouse): StagingLayer.Tables = StagingLayer.Tables(
    date = w.read("stg_date"), customer = w.read("stg_customer"),
    product = w.read("stg_product"), store = w.read("stg_store"),
    supplier = w.read("stg_supplier"), returnReason = w.read("stg_return_reason"),
    sales = w.read("stg_sales"), returns = w.read("stg_returns"),
    inventory = w.read("stg_inventory"))

/** Regular files under `dir`, as paths relative to it. */
  def files(dir: File): Set[String] =
    if (!dir.exists()) Set.empty
    else {
      val root = dir.toPath
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString).toSet
      finally st.close()
    }

  /** (bytes, files) of the regular files under `dir`. */
  def du(dir: File): (Double, Int) = {
    val fs = files(dir).toSeq
    (fs.map(f => new File(dir, f).length()).sum.toDouble, fs.length)
  }

  def rm(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }
}

/** Plain-Scala fold over the CSV lines (RFC4180), independent of the
  * pipeline under test: the values its target facts must reproduce. */
object CsvFold {
  final case class Totals(rows: Long, customers: Long, products: Long,
      profitCents: Long, salesCents: Long, quantity: Long)

  /** Split RFC4180 text into records of fields. */
  def records(text: String): Seq[Vector[String]] = {
    val out = mutable.ArrayBuffer.empty[Vector[String]]
    var rec = Vector.empty[String]
    val field = new StringBuilder
    var quoted = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < text.length && text.charAt(i + 1) == '"') { field += '"'; i += 1 }
        else if (c == '"') quoted = false
        else field += c
      } else c match {
        case '"' => quoted = true
        case ',' => rec :+= field.result(); field.clear()
        case '\n' => rec :+= field.result(); field.clear(); out += rec; rec = Vector.empty
        case '\r' => ()
        case _ => field += c
      }
      i += 1
    }
    if (field.nonEmpty || rec.nonEmpty) out += (rec :+ field.result())
    out.toSeq
  }

  def apply(path: String): Totals = {
    val recs = records(Files.readString(Path.of(path)))
    val header = recs.head
    def at(name: String) = header.indexOf(name).ensuring(_ >= 0, s"no column $name")
    val (cust, prod, profit, sales, qty) =
      (at("Customer Name"), at("Product Name"), at("Profit"), at("Sales"), at("Order Quantity"))
    val rows = recs.tail
    def cents(i: Int) = rows.map(r => BigDecimal(r(i)) * 100).sum.toLongExact
    Totals(rows.length, rows.map(_(cust)).distinct.length, rows.map(_(prod)).distinct.length,
      cents(profit), cents(sales), rows.map(_(qty).toLong).sum)
  }
}
