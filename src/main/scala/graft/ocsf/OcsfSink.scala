package graft.ocsf

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Security-Lake-layout parquet sink (SURVEY.md §2 A22–A23).
  *
  * The reference's Firehose converts normalized JSON to parquet and
  * dynamically partitions as `region=/accountId=/eventDay=`
  * (/root/reference/README.md:44-46,
  * src/json/qopcfdr_firehose_metadata.json). Here that is a plain
  * partitioned parquet write with the same key layout, one table per
  * OCSF sink route.
  *
  * Scale notes: `region`/`accountId` are constants per deployment and
  * `eventDay` is low-cardinality, so the write is repartitioned by the
  * partition keys first — one shuffle whose output is exactly one open
  * file per (day × class) instead of `numTasks × partitions` small
  * files. At 100 TB/day add a salt column to the repartition (not the
  * layout) to spread a single day across more writers.
  */
object OcsfSink {

  /** Table (directory) name for a sink route, e.g.
    * "Operating System Patch State" → `operating_system_patch_state`. */
  def tableName(route: String): String =
    route.toLowerCase.replace(' ', '_')

  /** Runs `body` on a DEDICATED, named, bounded pool sized to the
    * fan-out width, shut down when the body returns. The route writes
    * are blocking parquet jobs; parking them on the JVM-shared
    * fork-join pool (`ExecutionContext.global`) lets two concurrent
    * fan-outs in one JVM starve each other and everything else sharing
    * the global pool. Daemon threads; `shutdown()` is graceful, so a
    * timed-out straggler the caller abandoned finishes on its own
    * thread and the pool then dies — nothing leaks past the last task. */
  private[graft] def withFanOutPool[T](threads: Int, name: String)(
      body: scala.concurrent.ExecutionContext => T): T = {
    val seq = new java.util.concurrent.atomic.AtomicInteger(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, threads),
      (r: Runnable) => {
        val t = new Thread(r, s"$name-${seq.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    try body(scala.concurrent.ExecutionContext.fromExecutorService(pool))
    finally { pool.shutdown(); () }
  }

  /** Auto-sizing for [[write]]'s `filesPerDay`: Catalyst's size
    * estimate for the plan divided by a target in-memory chunk per
    * writer (512 MB in-memory ≈ 100-200 MB parquet after encoding),
    * clamped to [1, 4096]. Tiny inputs still get exactly one file per
    * (region, account, day) — the anti-small-files default — while a
    * 100 TB/day feed fans out across thousands of writers without the
    * caller having to remember the lever. Cheap: reads optimizer
    * stats, runs no job. */
  def autoFilesPerDay(df: DataFrame, targetChunkBytes: Long = 512L << 20): Int =
    autoFilesPerDayFromBytes(
      df.queryExecution.optimizedPlan.stats.sizeInBytes, targetChunkBytes)

  /** The same sizing from an already-known byte estimate — what every
    * fan-out uses ([[fanOutRoutes]]): reading `optimizedPlan.stats` off each
    * route's NORMALIZED plan runs a full optimizer pass per route per
    * micro-batch (measured ~5 s of driver time per 1M-event trigger
    * across the 13 routes), while the materialized batch cache already
    * knows its size. One stats read per batch, split by each route's
    * share of the rows ([[routeFilesPerDay]]). */
  def autoFilesPerDayFromBytes(est: BigInt,
                               targetChunkBytes: Long = 512L << 20): Int =
    (est / targetChunkBytes).min(BigInt(4096)).max(BigInt(1)).toInt

  /** A22 — write one normalized class DataFrame in Security Lake
    * layout. `time` must exist (all normalizers emit it).
    *
    * `filesPerDay` is the skew lever: how many writer tasks (and so
    * files) share one (region, account, day) partition; the salt only
    * affects the repartition, never the directory layout. The default
    * 0 means derive it from the input size ([[autoFilesPerDay]]). */
  def write(df: DataFrame, baseDir: String, route: String,
            region: String, accountId: String,
            filesPerDay: Int = 0): Unit =
    partitionedFrame(df, region, accountId, filesPerDay).write
      .mode("append")
      .partitionBy("region", "accountId", "eventDay")
      .parquet(s"$baseDir/${tableName(route)}")

  /** The partition-keyed, writer-salted frame behind [[write]] — also
    * the staging half of [[IdempotentSink.writeBatch]]'s two-phase
    * commit, which must produce the exact final directory layout. */
  private[ocsf] def partitionedFrame(df: DataFrame, region: String,
                                     accountId: String,
                                     filesPerDay: Int): DataFrame = {
    require(filesPerDay >= 0, "filesPerDay must be >= 0 (0 = auto)")
    val filesPerDay0 = if (filesPerDay == 0) autoFilesPerDay(df) else filesPerDay
    val partitioned = df
      .withColumn("region", lit(region))
      .withColumn("accountId", lit(accountId))
      .withColumn("eventDay", date_format(col("time"), "yyyyMMdd"))
    // time-sorted within each writer task: parquet row-group min/max
    // stats on `time` then let ANY engine (this one, Athena/Trino over
    // the same prefix) skip row groups on the time-range predicates
    // that dominate security-lake queries — free at write (the sort is
    // task-local over one day-partition's slice), paid back on every
    // read. Layout and file count are unchanged.
    (if (filesPerDay0 == 1) partitioned.repartition(
      col("region"), col("accountId"), col("eventDay"))
    else partitioned.repartition(
      col("region"), col("accountId"), col("eventDay"),
      pmod(xxhash64(col("metadata.uid"), col("time")), lit(filesPerDay0))))
      .sortWithinPartitions(col("region"), col("accountId"),
        col("eventDay"), col("time"))
  }

  /** Route-clustered layout for the fan-out cache: repartitions the
    * classified relation on (route, salt) so each cached partition —
    * and so each columnar cache batch — holds (nearly) one route.
    * Every route write then filters `route === r` against the cache,
    * and `InMemoryTableScan` prunes whole batches via its per-batch
    * min/max stats: a 13-way fan-out decompresses ~1× the data instead
    * of 13×. Measured (1M events, median-of-3 interleaved A/B arms,
    * BASELINE.md): fan-out 19.6 s plain → 10.2 s clustered, total 22.5 →
    * 13.4 s; the no-shuffle alternative (`sortWithinPartitions` +
    * small cache batches) recovered only ~2.6 s of that.
    *
    * `tasksPerRoute` salts the clustering so each route spans that
    * many partitions (scan/normalize parallelism per route while the
    * 13 route jobs run concurrently). The salt hashes the event id
    * (falling back to the extapi timestamp key); rows where both are
    * absent degrade to one partition for that route, never lost. One
    * extra shuffle of the batch, repaid ~3× by the pruned rescans —
    * at streaming cadence the batch is small and the shuffle is
    * sub-second.
    *
    * The default (0) AUTO-SIZES tasksPerRoute from the input's plan
    * stats, because what must stay bounded at scale is PARTITION SIZE,
    * not partition count: a fixed 13×2 layout means each 4× corpus
    * growth quadruples the rows per cached partition, and the
    * cache-unroll of those fat serialized blocks is exactly where a
    * 16M-event backfill blew the default heap (BASELINE.md r12 —
    * stage-52 OOM at 615k rows/partition; the same corpus passes at
    * 123k). ~8 MB of source bytes per task keeps a 1M-event batch at
    * the measured-optimal 2 tasks/route and scales a backfill linearly,
    * clamped to [2, 64] so a streaming micro-batch never shrinks below
    * today's layout and a huge backfill never explodes the task
    * count. */
  def routeClustered(classified: DataFrame, tasksPerRoute: Int = 0): DataFrame = {
    require(tasksPerRoute >= 0, "tasksPerRoute must be >= 1 (0 = auto)")
    val tpr =
      if (tasksPerRoute > 0) tasksPerRoute
      else {
        val bytes = classified.queryExecution.optimizedPlan.stats.sizeInBytes
        val perTask = BigInt(8L << 20) * OcsfMappings.routes.size
        ((bytes / perTask) + 1).min(64).max(2).toInt
      }
    val salt = pmod(xxhash64(coalesce(col("fields").getItem("id"),
      col("fields").getItem("UTCTimestamp"), lit(""))), lit(tpr))
    classified.repartition(OcsfMappings.routes.size * tpr,
      col("route"), salt)
  }

  /** Heap-proof persist for the fan-out cache: MEMORY_AND_DISK_SER,
    * never the `.cache()` default (MEMORY_AND_DISK, deserialized).
    * The 13 concurrent route writes rescan this relation while their
    * own shuffle/encode work competes for the same unified memory; a
    * batch whose deserialized columnar cache outgrows the storage pool
    * used to fall off a cliff (BASELINE.md: 163.5k ev/s at 24 g heap vs
    * 51.3k at the default 8 g on 4M events — eviction + GC thrash, 3.2×
    * over linear). Serialized batches are both smaller on heap and
    * cheap to evict to local disk, so an oversized micro-batch degrades
    * linearly (disk-read per rescan) instead of thrashing. The
    * streaming path sizes batches with `maxFilesPerTrigger`, but the
    * cache must stay safe when a backfill batch blows past the cap. */
  def cacheForFanOut(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK_SER)

  /** Admission control for the fan-out: how many route WRITE JOBS may
    * run at once before the next one queues on the bounded pool.
    *
    * Why it exists: every open parquet writer buffers up to a full row
    * group (`parquet.block.size`, default 128 MB) of UNTRACKED heap —
    * Spark's memory manager never sees it — and a fan-out runs
    * `routes × filesPerDay` writers concurrently on top of a storage
    * pool already pinned by the fan-out cache. On a small heap that is
    * exactly where an oversized batch dies (BASELINE.md, 32M events @
    * 8 g: the cache-unroll lever moved the boundary and the 13
    * concurrent `ParquetWriteSupport`s then OOM'd). Staggering route
    * jobs trades fan-out latency for a bounded write-buffer peak — the
    * degraded-LINEAR failure mode, like the serialized cache before it.
    *
    * Sizing: a route's write-buffer peak is its writer-task count
    * (`filesPerDay`) × the row-group cap — but a writer never buffers
    * more than the route's actual data, so small batches are charged
    * `~batchBytes / routes` instead of the cap (this is why a 1M-event
    * batch still runs all 13 routes wide: its per-route slice is a few
    * MB and admission control is a no-op). ×2 for encode transients
    * (dictionary pages + the in-flight flush). The budget is half the
    * heap minus what the storage pool ACTUALLY holds right now
    * (`getRDDStorageInfo` — the fan-out cache the route jobs rescan),
    * floored at heap/8 so at least one route is always admitted.
    *
    * A real cluster rarely needs this lever (each executor's writers
    * share that executor's heap only), but the same arithmetic holds
    * per-executor when `filesPerDay` is sized to the whole cluster. */
  def autoConcurrentRoutes(classified: DataFrame, filesPerDay: Int,
                           nRoutes: Int): Int = {
    val sc = classified.sparkSession.sparkContext
    admittedRoutes(
      heapBytes = Runtime.getRuntime.maxMemory,
      storageUsedBytes = sc.getRDDStorageInfo.map(_.memSize).sum,
      rowGroupBytes = sc.hadoopConfiguration
        .getLong("parquet.block.size", 128L << 20),
      batchBytes = classified.queryExecution.optimizedPlan.stats.sizeInBytes,
      filesPerDay = filesPerDay, nRoutes = nRoutes)
  }

  /** The pure admission arithmetic behind [[autoConcurrentRoutes]]
    * (separated so the sizing policy is spec-pinnable without a
    * telemetry harness). See that method's scaladoc for the model. */
  private[ocsf] def admittedRoutes(heapBytes: Long, storageUsedBytes: Long,
                                   rowGroupBytes: Long, batchBytes: BigInt,
                                   filesPerDay: Int, nRoutes: Int): Int = {
    val writers = math.max(1, filesPerDay).toLong
    val perRoute = ((batchBytes / nRoutes).min(BigInt(writers * rowGroupBytes))
      .max(BigInt(16L << 20)) * 2).toLong
    val budget = math.max(heapBytes / 8, heapBytes / 2 - storageUsedBytes)
    math.max(1L, math.min(nRoutes.toLong, budget / perRoute)).toInt
  }

  /** A23 — 13-way fan-out: normalize every route off the same
    * classified scan and write each to its own table. The 13 writes
    * are independent Spark jobs and run CONCURRENTLY — sequential
    * submission left the cluster idle between small jobs and made the
    * fan-out latency the sum instead of the max. Cache `classified`
    * ([[cacheForFanOut]]) after [[routeClustered]], so each route's
    * rescan prunes to its own cache batches; an uncached input is
    * cached for the fan-out's duration ([[fanOutRoutes]]). */
  def fanOut(classified: DataFrame, baseDir: String,
             region: String, accountId: String): Unit = {
    fanOutTimed(classified, baseDir, region, accountId)
    ()
  }

  /** [[fanOut]] that also reports per-route wall seconds (measured
    * inside each route's future, so contention between the concurrent
    * writes is included — the number a capacity plan needs). */
  def fanOutTimed(classified: DataFrame, baseDir: String,
                  region: String, accountId: String): Map[String, Double] =
    fanOutRoutes(classified, OcsfMappings.routes, Duration.Inf, "fan-out") {
      (df, route, filesPerDay) =>
        write(df, baseDir, route, region, accountId, filesPerDay)
    }.routeS

  /** [[fanOut]] with restart safety: each route lands through
    * [[IdempotentSink.writeBatch]] keyed by a caller-chosen `runId`
    * (e.g. the ingest day or the input manifest hash), so re-running a
    * batch job that died mid-fan-out skips the routes that already
    * committed instead of re-appending them. Same two-phase commit as
    * the streaming path.
    *
    * `writerId` namespaces this job's commit log so it can run BESIDE
    * a live streaming query on the same tables (the stream owns the
    * default empty namespace): a backfill passes a stable unique id —
    * e.g. `"backfill20260813"` — and its control pairs land as
    * `w-<writerId>-<runId>`, disjoint from the stream's. See
    * [[IdempotentSink]]'s concurrency contract; retire the finished
    * backfill into compacted history with
    * `compactCommits(foldWriters = Set(writerId))`. */
  def fanOutIdempotent(classified: DataFrame, baseDir: String,
                       region: String, accountId: String,
                       runId: Long, writerId: String = ""): Unit = {
    fanOutRoutes(classified, OcsfMappings.routes, Duration.Inf, "fan-out") {
      (df, route, filesPerDay) =>
        IdempotentSink.writeBatch(df, baseDir, route, region, accountId,
          runId, filesPerDay, writerId)
    }
    ()
  }

  /** Per-route wall seconds of a fan-out, after the one job that
    * materialized its input (`materializeS`). */
  private[graft] final case class FanOutTimes(materializeS: Double,
                                              routeS: Map[String, Double])

  /** The one fan-out routine behind [[fanOutTimed]],
    * [[fanOutIdempotent]] and the streaming fan-out
    * ([[graft.streaming.EventStream.start]]).
    *
    * First ONE job materializes the input and counts its rows per
    * route (skipped when the caller already built a cache too small
    * for a second writer on any route). An uncached input is cached ([[cacheForFanOut]]) for the
    * fan-out's duration, so the routes never rescan its source. The one
    * job also matters for a cached one: concurrent scans of an
    * UNmaterialized persist each recompute the partitions they race to
    * (CacheManager stores first-writer-wins but does not block the
    * losers), so without it the fan-out pays up to routes× the
    * shuffle-read + columnar-unroll cost. Both sizing decisions then
    * come from the cache's real bytes, never a plan estimate:
    *  - each route's `filesPerDay` from its own share of those bytes
    *    ([[routeFilesPerDay]]), so a heavy route gets more writers
    *    than a light one;
    *  - the admission width ([[autoConcurrentRoutes]]) for the heaviest
    *    route's `filesPerDay`.
    *
    * Each route's `Normalizers.byRoute` relation goes to `writeRoute`
    * (route, filesPerDay) through [[runRoutes]], which bounds the wait
    * by `timeout` (`what` prefixes its message). */
  private[graft] def fanOutRoutes(classified: DataFrame, routes: Seq[String],
                                  timeout: Duration, what: String)(
      writeRoute: (DataFrame, String, Int) => Unit): FanOutTimes = {
    val owned = classified.storageLevel == StorageLevel.NONE
    val cached = if (owned) cacheForFanOut(classified) else classified
    // a fresh plan each time: `cached`'s own optimized plan may predate
    // the persist, and only a plan over the InMemoryRelation reports the
    // built batches' bytes
    def sized = cached.where(lit(true))
    def cacheBytes = sized.queryExecution.optimizedPlan.stats.sizeInBytes
    try {
      val t0 = System.nanoTime()
      // a cache the caller already built, too small for a second writer
      // on any route, needs neither the job nor the per-route counts
      val rows =
        if (built(cached) && autoFilesPerDayFromBytes(cacheBytes) == 1) Map.empty[String, Long]
        else cached.groupBy("route").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val materializeS = (System.nanoTime() - t0) / 1e9
      val filesPerDay = routeFilesPerDay(cacheBytes, rows, routes)
      val width = autoConcurrentRoutes(sized,
        (1 +: filesPerDay.values.toSeq).max, math.max(1, routes.size))
      FanOutTimes(materializeS, runRoutes(routes, width, timeout, what) { route =>
        writeRoute(Normalizers.byRoute(route)(cached.filter(col("route") === route)),
          route, filesPerDay(route))
      })
    } finally if (owned) { cached.unpersist(); () }
  }

  /** Whether `df` is cached and its cache already built. */
  private def built(df: DataFrame): Boolean =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** Each route's writers per (region, account, day):
    * [[autoFilesPerDayFromBytes]] of its share of `cacheBytes`, the
    * share being its row count over all rows in the cache. */
  private[ocsf] def routeFilesPerDay(cacheBytes: BigInt, rows: Map[String, Long],
                                     routes: Seq[String]): Map[String, Int] = {
    val total = math.max(1L, rows.values.sum)
    routes.map(r =>
      r -> autoFilesPerDayFromBytes(cacheBytes * BigInt(rows.getOrElse(r, 0L)) / total)).toMap
  }

  /** Runs `run(route)` for every route on a [[withFanOutPool]] of
    * `width` threads and returns per-route wall seconds (measured on
    * the route's thread, so contention between concurrent routes is
    * included). The first `width` routes take a thread at once; the
    * rest queue for one.
    *
    * If any route fails, or the routes have not all finished within
    * `timeout`, the routes still queued are cancelled and never start: the caller
    * is about to fail the batch (and may drop the cache the routes
    * read). Routes already running are abandoned, not interrupted; a
    * timeout's `TimeoutException` names them as stuck and lists the
    * cancelled ones apart. */
  private[ocsf] def runRoutes(routes: Seq[String], width: Int, timeout: Duration,
                              what: String)(run: String => Unit): Map[String, Double] = {
    val (queued, running, finished, cancelled) = (0, 1, 2, 3)
    // a route past the first `width` waits in the pool's queue until it
    // claims queued → running; cancelling claims queued → cancelled
    val state = routes.indices.map(i =>
      new AtomicInteger(if (i < width) running else queued))
    withFanOutPool(width, "graft-fanout") { pool =>
      val jobs = routes.indices.map { i =>
        Future {
          if (state(i).compareAndSet(queued, running) || state(i).get == running) {
            val t0 = System.nanoTime()
            try run(routes(i)) finally state(i).set(finished)
            (System.nanoTime() - t0) / 1e9
          } else 0.0
        }(pool)
      }
      // sequenced on the completing thread, not the pool: an abandoned
      // route that finishes after the pool shut down must not need it
      implicit val sequencing: ExecutionContext = ExecutionContext.parasitic
      val secs =
        try Await.result(Future.sequence(jobs), timeout)
        catch {
          case e: Throwable =>
            val dropped = routes.indices.filter(state(_).compareAndSet(queued, cancelled))
            e match {
              case _: TimeoutException =>
                val stuck = routes.indices.filter(state(_).get == running)
                throw new TimeoutException(
                  s"$what exceeded $timeout; stuck routes: " +
                    stuck.map(routes).mkString(", ") +
                    (if (dropped.isEmpty) ""
                     else s"; cancelled before start: ${dropped.map(routes).mkString(", ")}"))
              case _ => throw e
            }
        }
      routes.zip(secs).toMap
    }
  }
}
