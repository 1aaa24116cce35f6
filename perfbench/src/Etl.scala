package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ocsf.{Normalizers, OcsfMappings, OcsfSink, OcsfTables}
import graft.sources.FdrSource

import Main.{log, nanos}

/** What every workload runs: one backfill batch job over a seeded FDR
  * corpus, with its output checks. A traced run adds the stats index and
  * two passes of hunts over the lake the batch committed, a short stream
  * ([[Stream]]) and the growing prefixes of the batch path. */
object Etl {

  val Region = "us-east-1"
  val Account = "123456789012"

  /** Fan-out cache layout passed to `OcsfSink.routeClustered`: the value
    * its auto-sizing documents for a batch of this size. At the seed the
    * auto-sizing reads the broadcast join's multiplied size estimate and
    * clamps to 64 tasks per route for any batch over a few tens of KB
    * (832 cache partitions, 95-113 s of fan-out on 4 cores whatever the
    * event count). A run of that length on every run of the workload
    * does not fit the benchmark's time budget. The stream workload keeps
    * the auto-sizing, and a traced run reports what it picks here as
    * `ocsf.autosize_tasks_per_route`. */
  val TasksPerRoute = 2

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeLike => e }.size
  }

  def run(r: Run, corpus: CorpusSpec): Outcome = {
    import r.{op, span, spark}
    // set-up: the corpus is generated three times into fresh landing
    // prefixes and the median counts, so set-up time is steady
    val gens = (0 until 3).map { i =>
      val dir = Files.createDirectories(r.work.resolve(s"landing-$i"))
      nanos(Gen.write(dir, corpus, r.seed)) match { case (e, s) => (dir, e, s) }
    }
    val (landing, exp, _) = gens.last
    op("generator is deterministic")(gens.map(_._2).distinct.size == 1)
    val setupS = Stats.median(gens.map(_._3))

    // --- timed: one backfill batch job ---------------------------------
    val lake = r.work.resolve("lake").toString
    val ((nMapped, cachePartitions), etlS) = nanos(span("etl") {
      backfill(spark, landing.toString, lake, span)
    })
    op("etl classified every mapped event")(nMapped == exp.mapped)
    log(f"etl: $etlS%.2f s, $cachePartitions cache partitions")

    // committed rows per (route, eventDay), read back through the lake
    // reader, against the generator
    val tables = span("check.readback") {
      val ts = exp.perRoute.keys.toSeq.sorted.map(t => t -> OcsfTables.load(spark, lake, t)).toMap
      op("committed rows per (route, eventDay) match the generator") {
        val got = ts.map { case (t, df) => df.select(lit(t).as("route"),
          col("eventDay").cast("int").as("day")) }.reduce(_ union _)
          .groupBy("route", "day").count().collect()
          .map(x => (x.getString(0), x.getInt(1)) -> x.getLong(2)).toMap
        got == exp.perRouteDay
      }
      ts
    }
    val committedFiles = tables.values.flatMap(_.inputFiles).toSeq
    val lakeBytes = committedFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    // quarantine: every bad line the generator wrote, by reason
    val quarantined = span("check.quarantine") {
      FdrSource.loadWithQuarantine(spark, landing.toString).quarantined
        .groupBy("reason").count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    op("quarantine matches the generator's bad lines")(quarantined == exp.badLines)

    r.env ++= Seq("events" -> exp.mapped.toString, "objects" -> corpus.objects.toString,
      "landing_bytes" -> exp.objectBytes.toString, "etl_s" -> etlS.toString,
      "cache_partitions" -> cachePartitions.toString,
      "quarantined_lines" -> quarantined.values.sum.toString)
    val e2e = Seq(
      ("etl_events_per_s", exp.mapped / etlS, "ev/s"),
      ("lake_bytes_per_event", lakeBytes.toDouble / exp.mapped, "B"))
    val layer = r.tracer.toSeq.flatMap { t =>
      traced(r, t, landing, lake, exp, tables, etlS) ++ Seq(
        ("ocsf.cache_partitions", cachePartitions.toDouble, "count"),
        ("ocsf.files_written", committedFiles.size.toDouble, "count"),
        ("ocsf.bytes_written", lakeBytes.toDouble, "B"))
    }
    Outcome(setupS, e2e, layer)
  }

  /** The backfill batch job: load, route-cluster and cache, idempotent
    * fan-out. Returns (mapped events, cache partitions). */
  private def backfill(spark: SparkSession, landing: String, lake: String,
                       span: Spans): (Long, Int) = {
    val loaded = span("sources.load")(FdrSource.load(spark, landing))
    val (clustered, n) = span("ocsf.cluster_cache") {
      val c = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(loaded.drop("raw"), TasksPerRoute))
      (c, c.count())
    }
    span("ocsf.fanout")(OcsfSink.fanOutIdempotent(clustered, lake, Region, Account, runId = 0L))
    val parts = clustered.rdd.getNumPartitions
    clustered.unpersist()
    (n, parts)
  }

  /** One hunt's execution: its result digest, whether the generator's
    * counts hold, and where its time went. */
  final case class HuntRun(name: String, digest: String, countsOk: Boolean, s: Double,
                           loadS: Double, planS: Double, execS: Double, files: Int, exchanges: Int)

  /** One pass over the hunts, each resolving its tables at query time. */
  private def huntPass(spark: SparkSession, lake: String, exp: Expected,
                       order: Seq[Hunts.Hunt]): Seq[Try[HuntRun]] = order.map { h =>
    Try {
      val resolver = new Hunts.Tables(spark, lake)
      val t0 = System.nanoTime()
      val df = h.build(resolver)
      df.queryExecution.executedPlan
      val tExec = System.nanoTime()
      val rows = df.collect()
      val t1 = System.nanoTime()
      HuntRun(h.name, Hunts.digest(rows), Hunts.countMismatches(h.name, rows, exp).isEmpty,
        (t1 - t0) / 1e9, resolver.loadNanos / 1e9, (tExec - t0 - resolver.loadNanos) / 1e9,
        (t1 - tExec) / 1e9, resolver.loaded.map(_.inputFiles.length).sum,
        Plans.exchanges(df.queryExecution.executedPlan))
    }
  }

  /** The traced additions, then the per-layer metrics. Hunt figures are
    * from the first pass, the session's first hunts after a backfill. */
  private def traced(r: Run, t: Tracer, landing: Path, lake: String, exp: Expected,
                     tables: Map[String, DataFrame], etlS: Double): Seq[(String, Double, String)] = {
    import r.{op, span, spark}
    val (_, statsS) = nanos(span("ocsf.stats_index") {
      Seq("DNS Activity", "Process Activity").foreach(tbl =>
        OcsfTables.buildStats(spark, lake, tbl, Seq("time")))
    })
    // two passes over the hunts in a seed-permuted order: every hunt's
    // result must have the same digest in both, and match the generator
    // where it knows the answer
    val order = new scala.util.Random(r.seed).shuffle(Hunts.all)
    val passes = span("hunts")((0 until 2).map(_ => huntPass(spark, lake, exp, order)))
    order.indices.foreach { i =>
      op(s"hunt ${order(i).name}") {
        val runs = passes.map(_(i).get)
        runs.map(_.digest).distinct.size == 1 && runs.forall(_.countsOk)
      }
    }
    val hunts = passes.head.flatMap(_.toOption)
    val stream = Stream.traced(r, t)
    val prefix = prefixPasses(spark, t, landing.toString, r.work)
    val fullFiles = Seq("DNS Activity", "Process Activity").map(tbl => tables(tbl).inputFiles.length).sum
    val prunedFiles = span("check.prune") {
      Seq("DNS Activity" -> "dns", "Process Activity" -> "proc").map { case (tbl, w) =>
        OcsfTables.loadWhere(spark, lake, tbl, Hunts.windowCond(w)).inputFiles.length
      }.sum
    }
    t.drain()
    op("every traced Spark job is attributed to a span")(t.unattributedJobs.get == 0)

    val roots = t.spans.toArray(Array.empty[Span])
    def root(n: String) = roots.find(s => s.name == n && s.parent == 0L).get
    val autoTasksPerRoute = OcsfSink.routeClustered(FdrSource.load(spark, landing.toString).drop("raw"))
      .queryExecution.optimizedPlan.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          p.numPartitions / OcsfMappings.routes.size
      }.getOrElse(-1)
    val timedWall = (root("hunts").endNs - root("etl").startNs) / 1e9
    Seq(
      ("sources.read_s", prefix("read"), "s"),
      ("sources.parse_s", prefix("parse") - prefix("read"), "s"),
      ("sources.classify_s", prefix("classify") - prefix("parse"), "s"),
      ("ocsf.cluster_cache_s", prefix("cluster_cache") - prefix("classify"), "s"),
      ("ocsf.autosize_tasks_per_route", autoTasksPerRoute.toDouble, "count"),
      ("ocsf.normalize_s", prefix("normalize"), "s"),
      ("ocsf.encode_s", prefix("plain_write") - prefix("normalize"), "s"),
      ("ocsf.commit_s", prefix("idempotent_write") - prefix("plain_write"), "s"),
      ("ocsf.fanout_s", prefix("idempotent_write"), "s"),
      ("ocsf.stats_index_s", statsS, "s"),
      ("ocsf.table_load_s", Stats.median(hunts.map(_.loadS)), "s"),
      ("ocsf.files_opened", hunts.map(_.files).sum.toDouble, "count"),
      ("ocsf.prune_kept_ratio", prunedFiles.toDouble / fullFiles, "1"),
      ("queries.pass_s", hunts.map(_.s).sum, "s"),
      ("queries.plan_s", Stats.median(hunts.map(_.planS)), "s"),
      ("queries.exec_s", Stats.median(hunts.map(_.execS)), "s"),
      ("queries.exchanges", hunts.map(_.exchanges).sum.toDouble, "count")) ++
      hunts.sortBy(_.name).map(h => (s"queries.${h.name}_s", h.s, "s")) ++
      t.sessionMetrics(root("etl"), GraftSession.cpus).map { case (n, v, u) => (s"session.etl.$n", v, u) } ++
      t.sessionMetrics(root("hunts"), GraftSession.cpus).map { case (n, v, u) => (s"session.hunts.$n", v, u) } ++
      stream ++ Seq(
        ("trace.overhead_ratio", t.overheadNs.get / 1e9 / timedWall, "1"),
        ("trace.self_sum_ratio", (prefix("cluster_cache") + prefix("idempotent_write")) / etlS, "1"))
  }

  /** Growing prefixes of the backfill path into noop or temporary
    * sinks, warm. The source prefixes run from scratch; the cluster step
    * builds the fan-out cache, and the three fan-out prefixes (normalize
    * only, plain write, idempotent write) each run over that cache.
    * Returns each step's wall time. */
  private def prefixPasses(spark: SparkSession, t: Tracer, landing: String,
                           work: Path): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var cache: DataFrame = null
    var k = 0
    def out(): String = { k += 1; work.resolve(s"prefix-out-$k").toString }
    val steps: Seq[(String, () => Unit)] = Seq(
      "read" -> (() => noop(FdrSource.readJsonLines(spark, landing).select("raw"))),
      "parse" -> (() => noop(FdrSource.readJsonLines(spark, landing))),
      "classify" -> (() => noop(FdrSource.load(spark, landing))),
      "cluster_cache" -> (() => {
        cache = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
          FdrSource.load(spark, landing).drop("raw"), TasksPerRoute))
        cache.count(); ()
      }),
      "normalize" -> (() => {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(OcsfMappings.routes.size)
        try {
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          Await.result(Future.sequence(Normalizers.normalizeAll(cache).values.toSeq
            .map(df => Future(noop(df)))), Duration.Inf)
        } finally pool.shutdown()
      }),
      "plain_write" -> (() => { OcsfSink.fanOutTimed(cache, out(), Region, Account); () }),
      "idempotent_write" -> (() => OcsfSink.fanOutIdempotent(cache, out(), Region, Account, runId = 0L)))
    try steps.map { case (name, f) => name -> nanos(t(s"prefix.$name")(f()))._2 }.toMap
    finally if (cache != null) cache.unpersist()
  }
}
