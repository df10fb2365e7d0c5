package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark work done between two points of the calling thread. A difference
  * keeps the later snapshot's peak execution memory: the peak of its window.
  */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, runMs: Long = 0,
                      cpuNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
                      spill: Long = 0, inputRecords: Long = 0, peakExecMem: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inputRecords - o.inputRecords, peakExecMem)
}

/** A failed correctness or timing check: the run reports correct=false. */
final class BenchFailure(msg: String) extends RuntimeException(msg)

/** Honest-timing guard: a timed pass must run at least the jobs and tasks,
  * and read at least the input records, of the workload's first pass. A
  * pass that reuses a cached or checkpointed frame, or a result memoized
  * across calls, does less and is rejected.
  */
object Guard {
  def check(first: Work, pass: Work): Option[String] =
    if (pass.jobs < first.jobs || pass.tasks < first.tasks || pass.inputRecords < first.inputRecords)
      Some(s"pass did less Spark work than the first pass (jobs ${pass.jobs}/${first.jobs}, " +
        s"tasks ${pass.tasks}/${first.tasks}, input records ${pass.inputRecords}/${first.inputRecords})")
    else None
}

/** Counts jobs, stages, tasks and task metrics, and keeps the task
  * durations of each stage so the slowest task of a stage can be compared
  * with its median.
  */
final class BenchListener extends SparkListener {
  private var w = Work()
  private var peak = 0L
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStages = mutable.ArrayBuffer.empty[(Int, Seq[Int])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    w = w.copy(jobs = w.jobs + 1)
    jobStages += ((e.jobId, e.stageIds))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    w = w.copy(stages = w.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peak = math.max(peak, m.peakExecutionMemory)
      w = Work(w.jobs, w.stages, w.tasks + 1, w.runMs + m.executorRunTime, w.cpuNs + m.executorCpuTime,
        w.shuffleRead + m.shuffleReadMetrics.totalBytesRead, w.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        w.spill + m.memoryBytesSpilled + m.diskBytesSpilled, w.inputRecords + m.inputMetrics.recordsRead, peak)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    } else w = w.copy(tasks = w.tasks + 1)
  }

  /** Counters so far; `resetPeak` starts a new peak-memory window. */
  def snapshot(sc: org.apache.spark.SparkContext, resetPeak: Boolean = false): Work = {
    org.apache.spark.ListenerDrain(sc)
    synchronized {
      val s = w.copy(peakExecMem = peak)
      if (resetPeak) peak = 0
      s
    }
  }

  def jobsSoFar: Int = synchronized(jobStages.size)

  /** Task durations of the final stage of the last job started after
    * `jobsBefore` jobs (the stage that runs extraction in an extraction rung).
    */
  def lastResultStageTasks(jobsBefore: Int): Seq[Long] = synchronized {
    jobStages.drop(jobsBefore).lastOption.map(_._2.max)
      .flatMap(stageTasks.get).map(_.toSeq).getOrElse(Nil)
  }
}

/** Mergeable log-linear latency histogram: 8 sub-buckets per power of two
  * (<= 12.5% bucket width), so per-partition histograms merge by addition
  * and percentiles never need the raw samples.
  */
final class Hist(val counts: Array[Long]) extends Serializable {
  def this() = this(new Array[Long](Hist.Buckets))
  def add(v: Long): Unit = counts(Hist.bucket(math.max(0L, v))) += 1
  def merge(o: Hist): Hist = { var i = 0; while (i < counts.length) { counts(i) += o.counts(i); i += 1 }; this }
  def n: Long = counts.sum
  /** Value at quantile q, interpolated linearly inside its bucket. */
  def quantile(q: Double): Double = {
    val total = n
    if (total == 0) return 0.0
    val rank = q * (total - 1)
    var cum = 0L
    var b = 0
    while (b < counts.length && cum + counts(b) <= rank) { cum += counts(b); b += 1 }
    val (lo, hi) = Hist.bounds(b)
    lo + (hi - lo) * ((rank - cum + 0.5) / counts(b))
  }
}
object Hist {
  val Buckets = 512
  def bucket(v: Long): Int =
    if (v < 8) v.toInt
    else { val e = 63 - java.lang.Long.numberOfLeadingZeros(v); (e - 2) * 8 + ((v >>> (e - 3)) & 7).toInt }
  def bounds(b: Int): (Double, Double) =
    if (b < 8) (b.toDouble, b + 1.0)
    else { val e = b / 8 + 2; val sub = b % 8; ((8 + sub).toDouble * (1L << (e - 3)), (9 + sub).toDouble * (1L << (e - 3))) }
}

/** One traced interval: a call into a layer. `parent` is the span whose
  * work contains this one (-1 for none); `pass` groups the spans of one
  * pass or ladder repetition.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, pass: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log. Spans are written out only when the run ends.
  * A span's self time is its duration minus the durations of its child
  * spans. In a cumulative ladder each rung's child is the previous rung
  * (whose work is a strict prefix of it), so a rung's self time is the
  * cost its layer adds.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Times `body` as span `name`; returns its result and the span id. */
  def span[T](name: String, pass: Int, parent: Int = -1)(body: => T): (T, Int) = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    val id = spans.size
    spans += Span(id, name, t0, t1, parent, pass)
    (r, id)
  }

  def setParent(child: Int, parent: Int): Unit = spans(child) = spans(child).copy(parent = parent)

  def selfSeconds(id: Int): Double =
    spans(id).seconds - spans.iterator.filter(_.parent == id).map(_.seconds).sum

  /** Per pass: the summed self time of the spans of each layer (the name
    * up to its first '.').
    */
  def layerSelf(pass: Int): Map[String, Double] =
    spans.iterator.filter(_.pass == pass).toSeq
      .groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => selfSeconds(s.id)).sum }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"pass":${s.pass}}"""
  }.mkString("[", ",", "]")
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Highest percentile with at least ten samples beyond it, if any. */
  def supportedPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (1.0 - 10.0 / n)).toInt
    if (n >= 20 && p > 50) Some(p) else None
  }
  /** Value at percentile p of xs (nearest rank). */
  def percentile(xs: collection.Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
}
