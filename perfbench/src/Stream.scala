package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.ocsf.OcsfTables
import graft.streaming.EventStream

/** The streaming part of a traced run: small gz objects land on a fixed
  * schedule (written, then renamed into the landing prefix) while
  * `EventStream.start` discovers them by listing and runs its
  * exactly-once fan-out, on its own thread, under a fixed
  * processing-time trigger. Freshness is the commit time of the micro-batch that holds
  * an object minus the object's scheduled landing time, read from the
  * query's checkpoint.
  *
  * The stream writes one route, [[Route]]. Every route adds a
  * normalize-and-write job to each trigger: with all 13 the first
  * trigger took about 40 s and later ones 6-8 s for a single 150-event
  * object on 4 cores, which a run cannot spend. */
object Stream {

  val Route = "Process Activity"

  /** One 150-event object per trigger interval. A micro-batch of one
    * such object stays small enough that `routeClustered`'s auto-sizing
    * picks a few tasks per route; 64 objects in one trigger reached its
    * clamp of 64 and took 12-20 s on 4 cores, more than a run can spend. */
  val Corpus = CorpusSpec(events = 4 * 150, objects = 4, days = 1, skew = 1.1)

  /** Rows and per-phase durations (ms) of each data-carrying micro-batch,
    * from the query's progress events. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(Long, Long, Map[String, Long])]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add((e.progress.batchId, e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  /** Micro-batch and commit time (epoch ms) of every object the query
    * took, by object file name: the file-source log (`sources/0`, plain
    * and compacted entries) names each file's batch, and the batch's
    * entry in the commit log (`commits/<id>`) carries its commit time.
    * Objects whose batch has no commit entry are left out. */
  def attribute(checkpoint: Path): Map[String, (Long, Long)] = {
    val sourceLog = checkpoint.resolve("sources").resolve("0")
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val batchOf = Files.list(sourceLog).iterator.asScala
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .collect { case Entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong }
      .toMap
    batchOf.flatMap { case (name, id) =>
      val commit = checkpoint.resolve("commits").resolve(id.toString)
      if (Files.exists(commit)) Some(name -> (id -> Files.getLastModifiedTime(commit).toMillis))
      else None
    }
  }

  /** Known answer for [[attribute]] on a hand-written checkpoint: a
    * plain and a compacted source-log file, two committed batches and
    * one batch without a commit. */
  def attributionSelfCheck(dir: Path): Boolean = {
    val src = Files.createDirectories(dir.resolve("sources").resolve("0"))
    val commits = Files.createDirectories(dir.resolve("commits"))
    def entry(name: String, id: Int) = s"""{"path":"file:///land/$name","timestamp":1,"batchId":$id}"""
    Files.writeString(src.resolve("0"), "v1\n" + entry("a.gz", 0) + "\n" + entry("b.gz", 0))
    Files.writeString(src.resolve("1.compact"),
      "v1\n" + Seq(entry("a.gz", 0), entry("b.gz", 0), entry("c.gz", 1)).mkString("\n"))
    Files.writeString(src.resolve("2"), "v1\n" + entry("d.gz", 2))
    Files.writeString(src.resolve(".2.crc"), "x")
    Seq(0 -> 5000L, 1 -> 7000L).foreach { case (id, ms) =>
      val f = commits.resolve(id.toString)
      Files.writeString(f, "v1\n{}")
      Files.setLastModifiedTime(f, FileTime.fromMillis(ms))
    }
    attribute(dir) == Map("a.gz" -> (0L, 5000L), "b.gz" -> (0L, 5000L), "c.gz" -> (1L, 7000L))
  }

  def traced(r: Run, t: Tracer): Seq[(String, Double, String)] = {
    import r.{op, span, spark}
    op("freshness attribution known answer")(attributionSelfCheck(r.work.resolve("attribution-check")))
    val staging = Files.createDirectories(r.work.resolve("stream-staging"))
    val exp = Gen.write(staging, Corpus, r.seed)
    val names = (0 until Corpus.objects).map(o => f"fdr-$o%04d.gz")
    val landing = Files.createDirectories(r.work.resolve("stream-landing"))
    val tmp = Files.createDirectories(r.work.resolve("lander-tmp"))
    val checkpoint = r.work.resolve("checkpoint")
    val lake = r.work.resolve("stream-lake").toString
    def land(name: String): Long = {
      Files.copy(staging.resolve(name), tmp.resolve(name))
      Files.move(tmp.resolve(name), landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    val progress = new Progress
    spark.streams.addListener(progress)

    // A processing-time trigger fires on multiples of its interval since
    // the epoch. Object k lands just past the k-th boundary after the
    // query starts, so every run lands at the same phase of the trigger.
    val triggerMs = (r.seconds * 1000).toLong
    val published = new Array[Long](names.size)
    val (query, scheduled) = span("stream") {
      val q = EventStream.start(spark, landing.toString, lake, checkpoint.toString,
        Etl.Region, Etl.Account, routes = Seq(Route),
        trigger = Trigger.ProcessingTime(triggerMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      val startMs = (System.currentTimeMillis() / triggerMs + 1) * triggerMs + 50
      val scheduled = names.indices.map(k => startMs + k * triggerMs)
      names.indices.foreach { k =>
        val wait = scheduled(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        published(k) = land(names(k))
      }
      q.processAllAvailable()
      q.stop()
      (q, scheduled)
    }
    op("query ended without an error")(query.exception.isEmpty)
    val batchOf = attribute(checkpoint.resolve("_fanout"))
    val committedIds = batchOf.values.map(_._1).toSet
    val until = System.currentTimeMillis() + 10000
    while (!committedIds.subsetOf(progress.batches.asScala.map(_._1).toSet) &&
      System.currentTimeMillis() < until) Thread.sleep(20)
    spark.streams.removeListener(progress)

    // checks: every object committed; the route's events, read back
    // through the lake reader, each exactly once
    op("every landed object committed before the run ended")(names.forall(batchOf.contains))
    span("check.stream_readback") {
      val table = OcsfTables.load(spark, lake, Route)
        .agg(count(lit(1)), countDistinct(col("metadata.uid"))).collect().head
      op("streamed rows of the route match the generator")(table.getLong(0) == exp.perRoute(Route))
      op("no metadata.uid lands twice")(table.getLong(1) == table.getLong(0))
    }
    t.drain()

    val fresh = names.indices.flatMap(k => batchOf.get(names(k)).map(_._2 - scheduled(k))).map(_ / 1e3)
    val durations = progress.batches.asScala.toSeq.filter(b => committedIds(b._1))
    def durS(keys: String*): Seq[Double] = durations.map(d => keys.map(d._3.getOrElse(_, 0L)).sum / 1e3)
    val triggerS = durS("triggerExecution")
    val late = names.indices.map(k => (published(k) - scheduled(k)) / 1e3)
    val commitOf = names.map(n => batchOf.get(n).fold(Long.MaxValue)(_._2))
    val backlog = names.indices.map(k =>
      names.indices.count(j => published(j) <= published(k) && commitOf(j) > published(k)))
    val root = t.spans.asScala.find(_.name == "stream").get
    val wallS = (root.endNs - root.startNs) / 1e9
    def tail(xs: Seq[Double]) = Stats.percentile(xs, Stats.tailFor(xs.size).getOrElse(1.0))
    r.env ++= Seq(
      "stream_objects_per_batch" ->
        batchOf.values.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.size).mkString("[", ",", "]"),
      "stream_rows_per_batch" -> durations.map(_._2).mkString("[", ",", "]"))
    Seq(
      ("sources.discovery_s", Stats.median(durS("latestOffset", "getBatch")), "s"),
      ("streaming.freshness_p50_s", Stats.median(fresh), "s"),
      ("streaming.freshness_tail_s", tail(fresh), "s"),
      ("streaming.trigger_p50_s", Stats.median(triggerS), "s"),
      ("streaming.trigger_tail_s", tail(triggerS), "s"),
      ("streaming.add_batch_s", Stats.median(durS("addBatch")), "s"),
      ("streaming.log_s", Stats.median(durS("walCommit", "commitOffsets")), "s"),
      ("streaming.backlog_max_objects", backlog.max.toDouble, "count"),
      ("streaming.lander_late_tail_s", tail(late), "s")) ++
      t.sessionMetrics(t.spans.asScala.toSeq.filter(_.name.startsWith("stream.batch.")), wallS,
        GraftSession.cpus).map { case (n, v, u) => (s"session.stream.$n", v, u) }
  }
}
