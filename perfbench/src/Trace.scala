package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call the benchmark made into a layer. `parent` is the id of
  * the enclosing span, or -1 for a top-level span. Times are
  * `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's own calls into the engine. With tracing
  * off, `span` only runs its body (no clock reads, no job group), so the
  * untraced run measures the engine alone. With tracing on, each span
  * sets a Spark job group `pb-<id>` for the calling thread, so
  * [[JobMetrics]] can bill every job the call starts to it. Spans are
  * kept in memory and written out once, when the run ends. */
final class Tracer(val enabled: Boolean, val runId: String,
                   sc: Option[SparkContext]) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0

  def spans: Seq[Span] = synchronized(done.toSeq)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val parent = open.headOption.map(_._1).getOrElse(-1)
        open = (id, name) :: open
        (id, parent)
      }
      sc.foreach(_.setJobGroup(Tracer.group(id), name))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          open = open.tail
          done += Span(id, name, parent, t0, t1, runId)
        }
        sc.foreach { c =>
          open.headOption match {
            case Some((pid, pname)) => c.setJobGroup(Tracer.group(pid), pname)
            case None               => c.clearJobGroup()
          }
        }
      }
    }

  /** Record a span whose interval was measured elsewhere (a streaming
    * query's lifetime, timed by the benchmark around `start`/`stop`). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      done += Span(nextId, name, open.headOption.map(_._1).getOrElse(-1),
        startNs, endNs, runId)
      nextId += 1
    }
}

object Tracer {
  def group(spanId: Int): String = s"pb-$spanId"
}

/** Spark work billed to one job group: jobs, tasks, executor run and
  * CPU time, shuffle bytes written, bytes spilled, and GC time. */
final class Work {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  def cpuMs: Double = cpuNs / 1e6
  def add(o: Work): Work = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    gcMs += o.gcMs; this
  }
}

/** Listener that bills job and task metrics to the job group and the
  * submission time of the job they ran in. A streaming query runs its
  * micro-batches under its own run id as the group. Attached only on
  * traced runs. */
final class JobMetrics extends SparkListener {
  private final case class Job(group: String, timeMs: Long, work: Work)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val w = new Work; w.jobs = 1
    jobs.put(e.jobId, Job(g, e.time, w))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { j =>
      val w = j.work
      w.synchronized {
        w.tasks += 1
        Option(e.taskMetrics).foreach { t =>
          w.runMs += t.executorRunTime
          w.cpuNs += t.executorCpuTime
          w.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
          w.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
          w.gcMs += t.jvmGCTime
        }
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener has seen no event for `quietMs` (the bus
    * delivers events asynchronously), at most `maxMs`. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val end = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < end) Thread.sleep(20)
  }

  /** Work of the jobs whose (group, submission time in ms) match. */
  def sum(pred: (String, Long) => Boolean): Work = {
    val t = new Work
    jobs.values().forEach(j => if (pred(j.group, j.timeMs)) j.work.synchronized(t.add(j.work)))
    t
  }
}

/** Arithmetic the benchmark reports with. Kept free of Spark so the
  * self-tests can check it directly. */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between the two
    * closest ranks (the default of numpy and of Spark's `percentile`). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span in ns: its duration minus the part of its
    * interval that its direct children cover (children clipped to the
    * parent, overlaps between children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Share of `[from, to)` covered by top-level spans. */
  def coverage(spans: Seq[Span], from: Long, to: Long): Double =
    if (to <= from) 0.0
    else unionLength(spans.filter(_.parent == -1)
      .map(s => (math.max(s.startNs, from), math.min(s.endNs, to))))
      .toDouble / (to - from)
}

/** Minimal JSON writer for the result line and the run detail file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
