package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Task metrics of one job group, summed from `onTaskEnd`. */
final class GroupMetrics {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var jobs = 0
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's own SparkListener. Every finished task adds its
  * executor CPU to a running total (the `exec_cpu_s` metric of the timed
  * passes). While a traced pass runs, each job carries the innermost
  * span's name as its job group, and the task's CPU, shuffle-write bytes,
  * spill bytes and run time are attributed to that group.
  */
final class BenchListener(sc: SparkContext) extends SparkListener {
  private val totalCpuNs = new AtomicLong(0)
  private val events = new AtomicLong(0)
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, GroupMetrics]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      e.stageIds.foreach(s => stageGroup.put(s, name))
      groups.synchronized { groups.getOrElseUpdate(name, new GroupMetrics).jobs += 1 }
    }
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      totalCpuNs.addAndGet(m.executorCpuTime)
      val g = stageGroup.get(e.stageId)
      if (g != null) groups.synchronized {
        val gm = groups.getOrElseUpdate(g, new GroupMetrics)
        gm.cpuNs += m.executorCpuTime
        gm.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        gm.spillBytes += m.diskBytesSpilled
        gm.taskMs += m.executorRunTime
      }
    }
    events.incrementAndGet()
  }

  /** Wait until the asynchronous listener bus has drained: three
    * consecutive quiet 100 ms samples of the event counter (the rule
    * `graft.ExecCpuMeter.settledNs` uses), so trailing task events of one
    * pass never leak into the next pass's window.
    */
  def settle(): Unit = {
    var quiet = 0
    var prev = events.get
    var spins = 0
    while (quiet < 3 && spins < 150) {
      Thread.sleep(100)
      val v = events.get
      if (v == prev) quiet += 1 else { quiet = 0; prev = v }
      spins += 1
    }
  }

  def cpuNs: Long = totalCpuNs.get

  /** Snapshot and clear the per-group metrics. */
  def drainGroups(): Map[String, GroupMetrics] = groups.synchronized {
    val out = groups.toMap
    groups.clear()
    stageGroup.clear()
    out
  }
}

/** One closed span of a traced pass. */
final case class Span(id: Int, name: String, parent: Int, pass: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder of a traced pass. `span` sets the job group of every
  * Spark job started inside it to the span's name (the innermost span
  * wins) and restores the enclosing span's group afterwards. Spans stay
  * in memory until the benchmark writes them out at its end.
  */
final class Tracer(sc: SparkContext, val pass: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobGroup(name, s"$pass/$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(id, name, parent, pass, t0, t1)
      stack = stack.tail
      stack.headOption match {
        case Some((_, up)) =>
          sc.setJobGroup(up, s"$pass/$up", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def recorded: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** A span's own time: its duration minus its children's. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}
