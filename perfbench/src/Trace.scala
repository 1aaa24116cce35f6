package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval around a call into a layer. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, var endNs: Long)

/** Per-span Spark work, summed from the task and stage events of the
  * jobs that ran while the span was the innermost one on the calling
  * thread (or on a thread that thread created). */
final class Counts {
  val jobs, stages, tasks, runMs, cpuNs, deserMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, input, output = new AtomicLong
  /** (start, end) epoch ms of each job, for the driver-gap union. */
  val jobIntervals = new ConcurrentHashMap[Int, (Long, Long)]()
}

/** Wraps a layer call in a span; [[NoSpans]] when tracing is off. */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

object NoSpans extends Spans {
  def apply[A](name: String)(body: => A): A = body
}

/** Records spans in memory and attributes Spark listener counts to
  * them through a local property set before each layer call. Spans and
  * counts are written out once, when the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener with Spans {
  private val Prop = "perfbench.span"
  private val seq = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  /** Time spent inside this tracer's own bookkeeping. */
  val overheadNs = new AtomicLong
  /** Jobs that started with no span to attribute them to. */
  val unattributedJobs = new AtomicLong

  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val parent = stack.get.headOption.getOrElse(0L)
    val s = Span(seq.incrementAndGet(), name, parent, t0, 0L)
    spans.add(s)
    counts.put(s.id, new Counts)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    stack.set(s.id :: stack.get)
    overheadNs.addAndGet(System.nanoTime() - t0)
    try body
    finally {
      val t1 = System.nanoTime()
      s.endNs = t1
      stack.set(stack.get.tail)
      sc.setLocalProperty(Prop, prev)
      overheadNs.addAndGet(System.nanoTime() - t1)
    }
  }

  private def timedHook(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Streaming micro-batch id → the span its jobs are attributed to. */
  private val batchSpans = new ConcurrentHashMap[Long, Span]()

  /** A micro-batch's jobs run on the query's own thread, which carries
    * the span that was open when the query started; each batch gets a
    * root span of its own instead, `stream.batch.<id>`, from the batch
    * id Spark sets on the batch's jobs. */
  private def batchSpan(batch: Long): Long = batchSpans.computeIfAbsent(batch, b => {
    val now = System.nanoTime()
    val s = Span(seq.incrementAndGet(), s"stream.batch.$b", 0L, now, now)
    counts.put(s.id, new Counts)
    spans.add(s)
    s
  }).id

  override def onJobStart(e: SparkListenerJobStart): Unit = timedHook {
    val props = Option(e.properties)
    val id = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(b => batchSpan(b.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty(Prop))).map(_.toLong))
    if (id.isEmpty) unattributedJobs.incrementAndGet()
    id.foreach { s =>
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(st => stageSpan.put(st, s))
      Option(counts.get(s)).foreach { c =>
        c.jobs.incrementAndGet()
        c.jobIntervals.put(e.jobId, (e.time, Long.MaxValue))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedHook {
    batchSpans.values.asScala.find(s => jobSpan.get(e.jobId) == s.id).foreach(_.endNs = System.nanoTime())
    Option(jobSpan.get(e.jobId)).flatMap(s => Option(counts.get(s))).foreach { c =>
      Option(c.jobIntervals.get(e.jobId)).foreach { case (st, _) =>
        c.jobIntervals.put(e.jobId, (st, e.time))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedHook {
    Option(stageSpan.get(e.stageInfo.stageId)).flatMap(s => Option(counts.get(s)))
      .foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedHook {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).flatMap(s => Option(counts.get(s))).foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.deserMs.addAndGet(m.executorDeserializeTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.addAndGet(m.inputMetrics.bytesRead)
        c.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  /** Waits until the listener bus has delivered the end of every job
    * it attributed, so counts are complete before they are read. */
  def drain(timeoutMs: Long = 20000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    def open = counts.values.asScala.exists(_.jobIntervals.values.asScala.exists(_._2 == Long.MaxValue))
    while (open && System.currentTimeMillis() < until) Thread.sleep(20)
  }

  private def children(id: Long): Seq[Span] = spans.asScala.filter(_.parent == id).toSeq

  /** Span plus all its descendants. */
  def subtree(root: Span): Seq[Span] = root +: children(root.id).flatMap(subtree)

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = children(s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - unionLength(kids)) / 1e9
  }

  /** Session counts rolled up over a set of spans (a span's subtree,
    * say) that ran within `wallS` seconds. `cores` turns task time into
    * utilization: Σ task run time ÷ (wall × cores). */
  def sessionMetrics(tree: Seq[Span], wallS: Double, cores: Int): Seq[(String, Double, String)] = {
    val cs = tree.flatMap(s => Option(counts.get(s.id)))
    def sum(f: Counts => AtomicLong) = cs.map(f(_).get).sum.toDouble
    val busyS = unionLength(cs.flatMap(_.jobIntervals.values.asScala)) / 1e3
    Seq(
      ("tasks", sum(_.tasks), "count"),
      ("jobs", sum(_.jobs), "count"),
      ("stages", sum(_.stages), "count"),
      ("task_run_s", sum(_.runMs) / 1e3, "s"),
      ("task_cpu_s", sum(_.cpuNs) / 1e9, "s"),
      ("task_deser_s", sum(_.deserMs) / 1e3, "s"),
      ("gc_s", sum(_.gcMs) / 1e3, "s"),
      ("utilization", sum(_.runMs) / 1e3 / math.max(1e-9, wallS * cores), "1"),
      ("driver_gap_s", math.max(0.0, wallS - busyS), "s"),
      ("shuffle_write_bytes", sum(_.shuffleWrite), "B"),
      ("shuffle_read_bytes", sum(_.shuffleRead), "B"),
      ("spill_bytes", sum(_.spill), "B"),
      ("input_bytes", sum(_.input), "B"),
      ("output_bytes", sum(_.output), "B"))
  }

  /** [[sessionMetrics]] over a span's subtree and its wall time. */
  def sessionMetrics(root: Span, cores: Int): Seq[(String, Double, String)] =
    sessionMetrics(subtree(root), (root.endNs - root.startNs) / 1e9, cores)

  /** Every span with its self time and the counts attributed to it. */
  def json: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    val c = counts.get(s.id)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
      s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_run_ms":${c.runMs},"task_cpu_ns":${c.cpuNs},"shuffle_write_bytes":${c.shuffleWrite},"shuffle_read_bytes":${c.shuffleRead},"input_bytes":${c.input},"output_bytes":${c.output}}"""
  }.mkString("[", ",\n", "]")

  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }
}
