package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-layer spans for the traced run. Each span runs its body under a
  * job group of its own; a listener attributes every job, task, shuffle
  * byte and spilled byte of that group to the span. Threads the body
  * starts after the group is set (DriverPool's) inherit it, because
  * Spark's local properties are inheritable thread-locals. Spans stay in
  * memory; [[report]] reads them once the run is over.
  *
  * Untraced (`on = false`), a span is the bare body: no group, no
  * listener, so the end-to-end numbers carry no tracing cost.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[(String, String, Double)]
  private var seq = 0
  private var enabled = false

  /** Attach or detach the listener; spans record only while attached.
    * Detaching drains the bus first, so no event of a traced job is lost.
    */
  def set(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(listener)
    else {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    enabled = on
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      seq += 1
      val group = s"bench.$name.$seq"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += ((name, group, (System.nanoTime() - t0) / 1e9))
        sc.clearJobGroup()
      }
    }

  /** Total seconds of the spans recorded since `mark` (a [[size]]). */
  def secondsSince(mark: Int): Double = spans.drop(mark).map(_._3).sum
  def size: Int = spans.size

  /** `<span>.<counter>` → median over the span's occurrences, for every
    * span in `names` (0 for a span that never ran: that layer did no
    * work in this workload).
    */
  def report(names: Seq[String]): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    names.flatMap { name =>
      val occ = spans.filter(_._1 == name).toSeq
      def med(f: ((String, String, Double)) => Double) =
        if (occ.isEmpty) 0.0 else median(occ.map(f))
      def cnt(f: Counts => Double) = med(o => listener.counts.get(o._2).map(f).getOrElse(0.0))
      Seq(
        s"$name.s" -> med(_._3),
        s"$name.jobs" -> cnt(_.jobs.toDouble),
        s"$name.tasks" -> cnt(_.tasks.toDouble),
        s"$name.empty_tasks" -> cnt(_.emptyTasks.toDouble),
        s"$name.shuffle_mb" -> cnt(_.shuffleBytes / 1e6),
        s"$name.spill_mb" -> cnt(_.spillBytes / 1e6))
    }.toMap
  }
}

object Trace {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var emptyTasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  /** Job-group attribution. Events arrive on the listener-bus thread
    * only; readers call BenchBus.drain first.
    */
  final class GroupListener extends SparkListener {
    val counts = mutable.HashMap.empty[String, Counts]
    private val stageGroup = mutable.HashMap.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("bench.")).foreach { g =>
          counts.getOrElseUpdate(g, new Counts).jobs += 1
          e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts(g)
        c.tasks += 1
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          c.emptyTasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
