package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call at a layer boundary. Times are nanoTime-based; `startMs` /
  * `endMs` put the same instants on the wall clock that Spark stamps job
  * submissions with, so jobs can be attributed to the call they ran in. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Double, endMs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans(val runId: String) {
  private val buf = ArrayBuffer[Span]()
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def wall(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  def all: Seq[Span] = synchronized(buf.toSeq)

  def add(name: String, layer: String, parent: Int, startNs: Long, endNs: Long): Span =
    synchronized {
      val s = Span(buf.size + 1, name, layer, parent, startNs, endNs, wall(startNs), wall(endNs))
      buf += s
      s
    }

  /** A span whose bounds another clock reported, in wall-clock ms. */
  def addWall(name: String, layer: String, parent: Int, startMs: Double, endMs: Double): Span =
    add(name, layer, parent, t0Ns + ((startMs - t0Ms) * 1e6).toLong,
      t0Ns + ((endMs - t0Ms) * 1e6).toLong)

  /** Time `body` as a span; the span is recorded even when `body` throws. */
  def timed[A](name: String, layer: String, parent: Int = 0)(body: Int => A): (A, Span) = {
    val reserved = add(name, layer, parent, 0L, 0L) // placeholder keeps ids in call order
    val t0 = System.nanoTime()
    var end = 0L
    try {
      val r = body(reserved.id)
      end = System.nanoTime()
      (r, finish(reserved, t0, end))
    } finally if (end == 0L) finish(reserved, t0, System.nanoTime())
  }

  private def finish(s: Span, t0: Long, t1: Long): Span = synchronized {
    val done = s.copy(startNs = t0, endNs = t1, startMs = wall(t0), endMs = wall(t1))
    buf(s.id - 1) = done
    done
  }

  /** A span's duration minus the part of it its children cover. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var upTo = s.startNs
      cs.foreach { case (a, b) =>
        val from = a max upTo
        if (b > from) { covered += b - from; upTo = b }
      }
      s.id -> ((s.endNs - s.startNs - covered) / 1e6)
    }.toMap
  }

  def toJsonLines: Seq[String] = {
    val all = this.all
    val self = selfMs(all)
    all.map(s => Json.obj(
      "run_id" -> runId, "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.ms, "self_ms" -> self(s.id)))
  }
}

/** Work done by Spark jobs, summed over their stages and tasks. */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Long = 0, taskRunMs: Long = 0,
    taskCpuNs: Long = 0, shuffleWrite: Long = 0, spill: Long = 0, bytesWritten: Long = 0,
    recordsRead: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunMs + o.taskRunMs, taskCpuNs + o.taskCpuNs, shuffleWrite + o.shuffleWrite,
    spill + o.spill, bytesWritten + o.bytesWritten, recordsRead + o.recordsRead)
}

/** One job: its submission time and what it has done so far. */
final class JobWork(val timeMs: Long) {
  private var w = Work(jobs = 1)
  def add(o: Work): Unit = synchronized(w += o)
  def work: Work = synchronized(w)
}

/** Counts jobs, stages and task metrics. A job belongs to the call whose
  * time window it was submitted in: the benchmark loops have one client, so
  * windows do not overlap, and job groups would miss the warehouse's
  * load-pool threads. */
final class JobLog extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[JobWork]()
  private val byStage = new ConcurrentHashMap[Int, JobWork]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobWork(e.time)
    jobs.add(j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val j = byStage.get(e.stageInfo.stageId)
    if (j != null) j.add(Work(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.add(Work(tasks = 1, taskRunMs = m.executorRunTime,
      taskCpuNs = m.executorCpuTime, shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      bytesWritten = m.outputMetrics.bytesWritten, recordsRead = m.inputMetrics.recordsRead))
  }

  /** Assign every job to the latest-starting span whose window holds its
    * submission time; jobs outside every span are left out. */
  def attribute(spans: Seq[Span]): Map[Int, Work] = {
    val sorted = spans.sortBy(_.startMs).toArray
    val starts = sorted.map(_.startMs)
    val out = scala.collection.mutable.Map[Int, Work]()
    jobs.asScala.foreach { j =>
      val t = j.timeMs.toDouble
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      // a span opened in the same millisecond as the job may sort after it
      while (i + 1 < sorted.length && sorted(i + 1).startMs <= t + 1) i += 1
      if (i >= 0 && t <= sorted(i).endMs + 1) {
        val id = sorted(i).id
        out(id) = out.getOrElse(id, Work()) + j.work
      }
    }
    out.toMap
  }
}
