package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are System.nanoTime values. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
    request: Long, thread: String, start: Long, end: Long)

/** Spark totals attributed to one span (or to a whole window). */
final case class SparkTotals(jobs: Int, tasks: Int, shuffleStages: Int,
    failedTasks: Int, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, outputMb: Double, inputMb: Double) {
  def +(o: SparkTotals): SparkTotals = SparkTotals(jobs + o.jobs,
    tasks + o.tasks, shuffleStages + o.shuffleStages,
    failedTasks + o.failedTasks, runS + o.runS, cpuS + o.cpuS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb,
    outputMb + o.outputMb, inputMb + o.inputMb)
}
object SparkTotals {
  val zero: SparkTotals = SparkTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** In-memory span recorder plus a SparkListener that assigns every job to
  * a span. A span tags the jobs its thread starts through a local property,
  * which threads created inside the span inherit; a job without the tag
  * (started from a thread the engine created earlier) falls back to the
  * innermost span whose time window contains its submission.
  *
  * When disabled, [[span]] only runs its body: untraced runs register no
  * listener and record nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private final class JobRec(val id: Int, val tag: Long, val submitted: Long,
      val stageIds: Seq[Int]) {
    var ended: Long = -1L
    val stages = mutable.ArrayBuffer[StageTotals]()
  }

  // guards the listener's state below; the listener writes it on the
  // listener-bus thread, readers take the same lock
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private val failedByStage = mutable.HashMap[Int, Int]()
  // listener events carry wall-clock millis; spans use nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      val rec = new JobRec(e.jobId, tag, e.time * 1000000L + clockOffsetNs, e.stageIds)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.ended = e.time * 1000000L + clockOffsetNs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (e.reason != Success)
        failedByStage(e.stageId) = failedByStage.getOrElse(e.stageId, 0) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += StageTotals(si.numTasks, m.shuffleWriteMetrics.bytesWritten > 0,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
          m.outputMetrics.bytesWritten / 1e6, m.inputMetrics.bytesRead / 1e6)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Runs `f` as a span of `layer`. Nested spans on the same thread get
    * this span as parent; `request` groups the spans of one request. */
  def span[T](name: String, layer: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val prevTag = sc.getLocalProperty(SpanKey)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanKey, prevTag)
        stack.set(parents)
        spans.add(Span(id, name, layer, parents.headOption.getOrElse(-1L),
          request, Thread.currentThread().getName, t0, t1))
      }
    }

  /** Makes sure every listener event posted so far has been seen. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.ListenerBusDrain(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** The span each job belongs to: its tag, else the innermost (latest
    * started) span whose window contains the job's submission. */
  private def attributed(all: Seq[Span]): Map[Int, Long] = lock.synchronized {
    val ordered = all.filter(_.layer != "spark").sortBy(-_.start)
    jobs.valuesIterator.map { j =>
      val owner =
        if (j.tag >= 0) j.tag
        else ordered.find(s => s.start <= j.submitted && j.submitted <= s.end)
          .map(_.id).getOrElse(-1L)
      j.id -> owner
    }.toMap
  }

  private def totalsOf(js: Iterable[JobRec]): SparkTotals = js.foldLeft(SparkTotals.zero) {
    (acc, j) =>
      val st = j.stages
      acc + SparkTotals(1, st.map(_.tasks).sum, st.count(_.shuffle),
        j.stageIds.map(failedByStage.getOrElse(_, 0)).sum, st.map(_.runS).sum,
        st.map(_.cpuS).sum, st.map(_.gcS).sum, st.map(_.shuffleWriteMb).sum,
        st.map(_.spillMb).sum, st.map(_.outputMb).sum, st.map(_.inputMb).sum)
  }

  /** Spark totals of the jobs attributed to spans named `name`, or to any
    * span nested under one. */
  def sparkTotalsUnder(name: String): SparkTotals = {
    drain()
    val all = allSpans
    val byId = all.map(s => s.id -> s).toMap
    val roots = all.filter(_.name == name).map(_.id).toSet
    def under(id: Long): Boolean = {
      var cur = id
      var hops = 0
      while (cur >= 0 && hops < 64) {
        if (roots.contains(cur)) return true
        cur = byId.get(cur).map(_.parent).getOrElse(-1L)
        hops += 1
      }
      false
    }
    val owners = attributed(all)
    lock.synchronized(totalsOf(jobs.valuesIterator.filter(j => under(owners(j.id))).toSeq))
  }

  /** Spark totals of every job seen so far. */
  def sparkTotalsAll: SparkTotals = { drain(); lock.synchronized(totalsOf(jobs.values.toSeq)) }

  /** Jobs as child spans of layer `spark`, so self times split driver work
    * in a layer from the Spark jobs it waits on. */
  def jobSpans: Seq[Span] = {
    drain()
    val all = allSpans
    val owners = attributed(all)
    lock.synchronized {
      jobs.valuesIterator.filter(_.ended >= 0).map { j =>
        Span(-1000000L - j.id, s"job-${j.id}", "spark", owners(j.id), -1L,
          "spark", j.submitted, math.max(j.submitted, j.ended))
      }.toSeq
    }
  }

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals, summed by layer (seconds). */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = allSpans ++ jobSpans
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Writes every span (jobs included) as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val base = allSpans.headOption.map(_.start).getOrElse(0L)
    val lines = (allSpans ++ jobSpans).sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""parent":${s.parent},"request":${s.request},"thread":${Json.str(s.thread)},""" +
        s""""start_us":${(s.start - base) / 1000},"end_us":${(s.end - base) / 1000}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }

  def close(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }
}

private final case class StageTotals(tasks: Int, shuffle: Boolean,
    runS: Double, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
    spillMb: Double, outputMb: Double, inputMb: Double)

object Tracer {
  val SpanKey = "graftbench.span"
}
