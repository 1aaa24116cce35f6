package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** DEV-ONLY measurement harness — not part of the library surface
  * (the `graft.*` package placement is only for the sbt `runMain`
  * contract). All inputs are synthetic temp corpora; all outputs land
  * in temp dirs deleted on completion.
  *
  * Streaming-curation throughput rung (r16 verdict item 8): drains
  * `nDocs` documents through [[graft.streaming.CurationStream]]
  * (secrets scrub + quality gate + incremental minhash dedup, index
  * maintained in-stream) in `nTriggers` micro-batches, then runs the
  * IDENTICAL one-shot batch screen in the same JVM — the
  * `stream_over_batch_ratio` is the box-independent figure (a
  * same-JVM calibration: absolute doc/s swings 2-3× with
  * host load the guest cannot see; the same-minutes ratio prices
  * exactly what streaming adds).
  *
  * Corpus: the real `documents` table replicated with every word
  * PREFIXED by the replica tag — that rewrites every shingle, so
  * cross-replica Jaccard is 0 and the dedup screen does its normal
  * delta-sized bucket work. (Plain replication would make every doc a
  * 200-way exact duplicate and measure the pathological-corpus path —
  * quadratic within-bucket pairs — not throughput.)
  *
  * SOAK MODE (r19 verdict item 3): with `resumeAt > 0` the stream is
  * KILLED once `resumeAt` triggers have run and a fresh query resumes
  * from the same checkpoint — exercising checkpoint recovery at
  * stream age, inside the measured window. Accounting is keyed by
  * batchId (a replayed batch overwrites its partial record), so the
  * drain total stays exact across the kill. The soak's claim is the
  * FLAT per-trigger wall and bounded index reads across ≥64 triggers
  * with in-stream compaction on; index BYTES grow linearly with the
  * kept corpus by design (it is an accumulating dedup index) and are
  * reported so nothing super-linear can hide.
  *
  * Usage: runMain graft.CurationBench [nDocs] [nTriggers] [sfDir] [compactEvery] [resumeAt] [tierBytes]
  */
object CurationBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 1000000L
    val nTriggers = if (args.length > 1) args(1).toInt else 4
    val sfDir =
      if (args.length > 2) args(2)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val compactEvery = if (args.length > 3) args(3).toInt else 0
    val resumeAt = if (args.length > 4) args(4).toInt else 0
    val tierBytes = if (args.length > 5) args(5).toLong else 0L
    val spark = GraftSession.get()
    import spark.implicits._

    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      try Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }
    // every temp tree registers here; the finally below removes them
    // even when the drain require (or the stream itself) throws — a
    // failed run must not leak the replicated landing corpus in /tmp
    val tmps = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    def tmp(prefix: String): java.nio.file.Path = {
      val p = Files.createTempDirectory(prefix)
      tmps += p
      p
    }
    try {

    val base = graft.sources.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val nBase = base.count()
    val replicas = math.max(1L, nDocs / math.max(1L, nBase)).toInt
    val corpus = base
      .crossJoin(spark.range(replicas.toLong).select(col("id").as("rep")))
      .select(
        (col("doc_id") + col("rep") * 100000000L).as("doc_id"),
        concat_ws(" ", transform(split(coalesce(col("text"), lit("")), " "),
          w => concat(col("rep").cast("string"), lit("_"), w))).as("text"))
    val filesPerTrigger = 4
    val landing = tmp("curation-bench-landing")
    corpus.repartition(nTriggers * filesPerTrigger)
      .write.mode("overwrite").parquet(landing.toString)
    val total = nBase * replicas
    System.err.println(s"[curation-bench] corpus $total docs in " +
      s"${nTriggers * filesPerTrigger} files, $nTriggers triggers")

    val indexDir = tmp("curation-bench-index")
    val outDir = tmp("curation-bench-out")
    val ckpt = tmp("curation-bench-ckpt")
    // keyed by batchId: a batch replayed across the soak's kill/resume
    // overwrites its partial record instead of double-counting
    val m = scala.collection.mutable.LinkedHashMap[Long, (Long, Double, Long, Long)]()
    def indexBytes(): Long = {
      val d = indexDir.toFile
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.length()).sum
    }
    val schema = spark.read.parquet(landing.toString).schema
    def startQuery() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(landing.toString)
      .writeStream
      .queryName("curation-bench")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val t0 = System.nanoTime()
          val c = graft.streaming.CurationStream.processBatch(
            batch.sparkSession, batch, batchId,
            indexDir.toString, outDir.toString, "text", "doc_id",
            minQuality = 0.3, scrubSecrets = true,
            compactEvery = compactEvery, compactTierBytes = tierBytes)
          val sec = (System.nanoTime() - t0) / 1e9
          m.synchronized { m(batchId) = (c.in, sec, c.indexFiles, indexBytes()) }
          System.err.println(
            f"[curation-bench] batch=$batchId in=${c.in} kept=${c.kept} " +
              f"dups=${c.duplicates} low_q=${c.lowQuality} " +
              f"scrubbed=${c.secretsScrubbed} index_files=${c.indexFiles} " +
              f"$sec%.1f s")
          ()
      }
      .start()
    var resumed = false
    val q = startQuery()
    if (resumeAt > 0) {
      // kill mid-soak: poll until `resumeAt` triggers have recorded,
      // stop the query (possibly interrupting an in-flight batch —
      // the realistic crash), then resume from the same checkpoint
      while (q.isActive && m.synchronized(m.size) < resumeAt)
        Thread.sleep(200)
      if (q.isActive) {
        q.stop()
        q.awaitTermination()
        System.err.println(s"[curation-bench] KILLED after " +
          s"${m.synchronized(m.size)} triggers; resuming from checkpoint")
        resumed = true
        val q2 = startQuery()
        q2.awaitTermination()
      } else q.awaitTermination()
    } else q.awaitTermination()
    val rows = m.toSeq.sortBy(_._1)
    val streamed = rows.map(_._2._1).sum
    require(streamed == total, s"drained $streamed of $total docs")
    val warm = rows.drop(1) // batch 0 pays codegen/JIT
    val warmDocs = warm.map(_._2._1).sum
    val warmSec = warm.map(_._2._2).sum
    val warmRate = if (warmSec > 0) warmDocs / warmSec else Double.NaN

    // same-JVM batch calibration: ONE processBatch over the whole
    // corpus into fresh dirs — identical scrub/quality/dedup/index
    // work, no triggers, whole-corpus parallelism
    var batchRate = Double.NaN
    val calIndex = tmp("curation-bench-calindex")
    val calOut = tmp("curation-bench-calout")
    try {
      val whole = spark.read.parquet(landing.toString)
      val t0 = System.nanoTime()
      val c = graft.streaming.CurationStream.processBatch(
        spark, whole, 0L, calIndex.toString, calOut.toString,
        "text", "doc_id", minQuality = 0.3, scrubSecrets = true)
      val sec = (System.nanoTime() - t0) / 1e9
      batchRate = c.in / sec
      System.err.println(
        f"[curation-bench] batch-cal in=${c.in} kept=${c.kept} $sec%.1f s")
    } catch {
      case e: Throwable =>
        System.err.println(s"[curation-bench] calibration failed: ${e.getMessage}")
    }

    def jnum(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else f"$v%.3f"
    println(s"""{"metric":"curation_docs_per_sec","value":${jnum(streamed / rows.map(_._2._2).sum)},"warm_docs_per_sec":${jnum(warmRate)},"docs":$streamed,"triggers":${rows.length},"compact_every":$compactEvery,"tier_bytes":$tierBytes,"resume_at":$resumeAt,"resumed":$resumed,"batch_calibration_docs_per_sec":${jnum(batchRate)},"stream_over_batch_ratio":${jnum(warmRate / batchRate)},"trigger_secs":[${rows.map(t => jnum(t._2._2)).mkString(",")}],"index_files_per_trigger":[${rows.map(_._2._3).mkString(",")}],"index_mb_per_trigger":[${rows.map(t => jnum(t._2._4 / 1e6)).mkString(",")}]}""")

    } finally {
      tmps.foreach(rmTree)
      spark.stop()
    }
  }
}
