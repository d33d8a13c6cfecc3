package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One closed span: a timed call into a layer's entry point. Spans of
  * one operation share `op`; `parent` is 0 for an operation's root. */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, gcMs: Long,
    notes: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-level work the Spark scheduler reported for one span's jobs. */
final class Work {
  var jobs, stages, tasks, taskMs, cpuNs = 0L
  var shuffleBytes, inputBytes, outputBytes, spillBytes = 0L
  /** [launch, finish] of every task, epoch ms, for the no-task time. */
  val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; spillBytes += o.spillBytes
    busy ++= o.busy
  }
}

/** Spans around calls into the program's public entry points, with the
  * jobs, stages and tasks each span caused. Jobs are attributed to the
  * innermost open span through a Spark local property, which every job
  * and stage submitted from the client thread (or a thread it spawns)
  * carries. Spans stay in memory until [[summary]]/[[json]].
  *
  * Disabled (the untraced run), [[span]] just runs its body: no
  * listener, no local property, no listener-bus drain. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val key = "graftbench.span"
  private val sc = spark.sparkContext
  private val work = mutable.HashMap.empty[Long, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Long, mutable.Map[String, Double])]
  private var nextId = 1L
  private var opId = 0L

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(key))).map(_.toLong)

  private def workOf(id: Long): Work = work.getOrElseUpdate(id, new Work)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach(workOf(_).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { id =>
        stageSpan(e.stageInfo.stageId) = id
        workOf(id).stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val w = workOf(id)
        w.tasks += 1
        w.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          w.taskMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          w.inputBytes += m.inputMetrics.bytesRead
          w.outputBytes += m.outputMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  })

  /** Start a new operation: spans opened until the next call share it. */
  def newOp(): Unit = opId += 1

  /** Record a value on the innermost open span. */
  def note(name: String, value: Double): Unit =
    open.headOption.foreach { case (_, n) => n(name) = n.getOrElse(name, 0.0) + value }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0L)
      val notes = mutable.Map.empty[String, Double]
      open = (id, notes) :: open
      sc.setLocalProperty(key, id.toString)
      val gc0 = Tracer.gcMs()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        ListenerDrain(sc)
        open = open.tail
        sc.setLocalProperty(key, open.headOption.map(_._1.toString).orNull)
        closed += Span(id, opId, parent, name, ns0, ns1, ms0, ms1,
          Tracer.gcMs() - gc0, notes.toMap)
      }
    }

  /** GC time inside operations, s: summed over the root spans whose
    * name `keep` accepts, so the collections the client forces between
    * operations are left out. */
  def rootGcS(keep: String => Boolean): Double =
    closed.iterator.filter(s => s.parent == 0 && keep(s.name)).map(_.gcMs).sum / 1e3

  /** The span's own work plus that of every span under it. */
  private def inclusive(s: Span, children: Map[Long, Seq[Span]]): Work = {
    val w = new Work
    def visit(x: Span): Unit = {
      synchronized(work.get(x.id)).foreach(w.add)
      children.getOrElse(x.id, Nil).foreach(visit)
    }
    visit(s)
    w
  }

  /** Time inside [start, end] during which no task of `w` ran. */
  private def idleS(s: Span, w: Work): Double = {
    val ivs = w.busy.map { case (a, b) => (a max s.startMs, b min s.endMs) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    covered += curB - curA
    ((s.endMs - s.startMs) - covered).max(0L) / 1e3
  }

  /** Per span name: the sum over every closed span of that name of its
    * wall time, no-task time, GC time, inclusive task work and notes. */
  def summary: Map[String, Map[String, Double]] = {
    val children = closed.toSeq.groupBy(_.parent)
    closed.toSeq.groupBy(_.name).map { case (name, ss) =>
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      ss.foreach { s =>
        val w = inclusive(s, children)
        acc("wall_s") += s.wallS
        acc("idle_s") += idleS(s, w)
        acc("gc_s") += s.gcMs / 1e3
        acc("jobs") += w.jobs
        acc("stages") += w.stages
        acc("tasks") += w.tasks
        acc("task_s") += w.taskMs / 1e3
        acc("cpu_s") += w.cpuNs / 1e9
        acc("shuffle_bytes") += w.shuffleBytes
        acc("input_bytes") += w.inputBytes
        acc("out_bytes") += w.outputBytes
        acc("spill_bytes") += w.spillBytes
        s.notes.foreach { case (k, v) => acc(k) += v }
      }
      name -> acc.toMap
    }
  }

  /** Every span as one JSON object per line. */
  def json: String = {
    val children = closed.toSeq.groupBy(_.parent)
    closed.map { s =>
      val w = inclusive(s, children)
      val fields = Seq(
        "id" -> s.id.toString, "op" -> s.op.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "wall_s" -> Json.num(s.wallS),
        "idle_s" -> Json.num(idleS(s, w)), "gc_s" -> Json.num(s.gcMs / 1e3),
        "jobs" -> w.jobs.toString, "stages" -> w.stages.toString,
        "tasks" -> w.tasks.toString, "task_s" -> Json.num(w.taskMs / 1e3),
        "cpu_s" -> Json.num(w.cpuNs / 1e9),
        "shuffle_bytes" -> w.shuffleBytes.toString,
        "input_bytes" -> w.inputBytes.toString,
        "out_bytes" -> w.outputBytes.toString,
        "spill_bytes" -> w.spillBytes.toString) ++
        s.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
      fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  /** Accumulated collection time of every garbage collector, ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
}
