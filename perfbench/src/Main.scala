package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every workload shares: the session, its work directory, the
  * operation accounting and the tracer, when the run is traced. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val tracer: Option[Tracer]) {
  var attempted = 0L
  val failures = ArrayBuffer[String]()

  /** One checked operation: it fails when it throws or returns false. */
  def op(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    Try(ok) match {
      case Success(true) => ()
      case Success(false) => failures += name
      case Failure(e) => failures += s"$name: ${e.getMessage}"
    }
  }

  def trace: Boolean = tracer.isDefined
  val span: Spans = tracer.getOrElse(NoSpans)

  /** Extra `env` fields a workload reports, as JSON values. */
  val env = ArrayBuffer[(String, String)]()
}

/** A workload's metrics: end-to-end (untraced result) and per layer
  * (traced result); `setupS` is the set-up time before the timed region. */
final case class Outcome(setupS: Double, endToEnd: Seq[(String, Double, String)],
                         perLayer: Seq[(String, Double, String)])

/** One benchmark run of one workload. Prints an `env` line, then the
  * result as the last stdout line; see README.md for every metric. */
object Main {

  /** Both workloads run the same operations on corpora that stress
    * different layers (README.md, "Workloads"). */
  val Workloads: Map[String, CorpusSpec] = Map(
    "etl_backfill" -> CorpusSpec(events = 40000, objects = 32, days = 4, skew = 1.1),
    "lake_hunt" -> CorpusSpec(events = 10000, objects = 16, days = 16, skew = 0.6))

  def nanos[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Fixed-work integer loop, timed: tells a box burst from a regression. */
  private def cpuLoopSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def jsonMetrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val corpus = Workloads.getOrElse(workloadName,
      sys.error(s"unknown workload $workloadName; known: ${Workloads.keys.mkString(", ")}"))
    val trace = opts("trace") == "1"

    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val (spark, sessionS) = nanos(GraftSession.get())
    val cpuLoopS = cpuLoopSeconds()
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val run = new Run(spark, Paths.get(opts("work")), opts("seed").toLong,
      opts("seconds").toDouble, tracer)
    Stats.selfChecks.foreach { case (name, ok) => run.op(s"self-check $name")(ok) }
    val heap = new HeapSampler
    if (trace) heap.start()

    val out = Etl.run(run, corpus)
    if (trace) heap.finish()
    val setupS = sessionS + out.setupS
    log(f"setup: session $sessionS%.2f s + workload ${out.setupS}%.2f s")
    val e2e = ("setup_s", setupS, "s") +: out.endToEnd
    val layer = if (!trace) Nil else out.perLayer ++ Seq(
      ("session.heap_peak_mb", heap.peakMb, "MB"),
      ("env.cpu_loop_s", cpuLoopS, "s"))

    val fields = Seq(
      "workload" -> s""""$workloadName"""", "seed" -> run.seed.toString, "trace" -> trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_graft_cpus" -> GraftSession.cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "loadavg_before" -> loadBefore.toString,
      "loadavg_after" -> os.getSystemLoadAverage.toString,
      "cpu_loop_s" -> cpuLoopS.toString, "session_s" -> sessionS.toString) ++ run.env :+
      ("failures" -> run.failures.map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]"))
    val env = fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"env":$env}""")
    opts.get("artifact").filter(_ => trace).foreach { p =>
      java.nio.file.Files.createDirectories(Paths.get(p).getParent)
      java.nio.file.Files.writeString(Paths.get(p),
        s"""{"env":$env,"end_to_end":${jsonMetrics(e2e)},"per_layer":${jsonMetrics(layer)},"spans":${tracer.get.json}}""")
    }
    spark.stop()
    val metrics = if (trace) layer else e2e
    println(s"""{"correct":${run.failures.isEmpty},"attempted":${run.attempted},"failed":${run.failures.size},"metrics":${jsonMetrics(metrics)}}""")
  }
}

/** Samples the heap used after the most recent collection, keeping the
  * peak. */
final class HeapSampler extends Thread("perfbench-heap") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakBytes = 0L
  override def run(): Unit = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.toArray(
      Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
    while (running) {
      peakBytes = math.max(peakBytes, pools.map(_.getCollectionUsage.getUsed).sum)
      Thread.sleep(100)
    }
  }
  def peakMb: Double = peakBytes / 1048576.0
  def finish(): Unit = { running = false; join() }
}
