package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.{ChangeIngest, VersionedTable}
import graft.streaming.{CdcApplied, CdcEvent, CdcStream, CdcTarget, PartitionedTableCdcTarget}

/** The paper's CDC path end to end: `ChangeIngest.readJsonFiles` →
  * `CdcStream.mergeInto` (dedupe to latest per key) →
  * `PartitionedTableCdcTarget` (partition-scoped merge and
  * `VersionedTable` commit).
  *
  * Inputs (written by run.py under `data`): `warm/` holds the files the
  * set-up reads, `landing/` the pre-landed backlog, `staging/` the tail
  * files in landing order. Options: `max_files` per micro-batch,
  * `warm_batches` (the catch-up's first batches, untimed), `interval_ms`
  * between tail landings, `n_keys` (point reads pick keys below it).
  *
  *  1. set-up: session start plus one batch decode of `warm/`, several
  *     times;
  *  2. catch-up (closed loop): the stream starts on the backlog and
  *     drains it in `max_files`-file micro-batches. The first
  *     `warm_batches` of them are the warm-up (a fresh stream runs its
  *     first batches several times slower); the catch-up is timed from
  *     the start of the next one to the end of the drain;
  *  3. three untimed point reads warm the read path;
  *  4. tail (open loop): a lander thread moves one staged file into the
  *     landing directory every `interval_ms`, on a fixed schedule, while
  *     a reader thread runs `VersionedTable.readKey` + `collect` on
  *     seeded keys back to back until the stream has drained.
  *
  * Per-batch timing comes from the query's own `StreamingQueryProgress`.
  * Freshness, the file→micro-batch mapping and the backlog are derived
  * afterwards from the stream checkpoint and `VersionedTable.history`,
  * so the timed path pays nothing for them. */
final class Cdc(ctx: Ctx) {
  private val tr = ctx.trace
  private val data = Paths.get(ctx.data)
  private val work = Paths.get(ctx.out, "cdc")
  private val maxFiles = ctx.opts("max_files").toInt
  private val warmBatches = ctx.opts("warm_batches").toInt
  private val intervalMs = ctx.opts("interval_ms").toLong
  private val nKeys = ctx.opts("n_keys").toInt

  /** Benchmark-side wrapper that times every `CdcTarget.merge` call. */
  private final class TimedTarget(inner: CdcTarget,
      log: ConcurrentLinkedQueue[(Long, Double)]) extends CdcTarget {
    override def merge(batchId: Long, rows: Dataset[CdcApplied]): Unit = {
      val t0 = System.nanoTime()
      try tr.span("streaming.target_merge")(inner.merge(batchId, rows))
      finally log.add((batchId, (System.nanoTime() - t0) / 1e6))
    }
  }

  private def stream(spark: SparkSession, landing: Path, ckpt: Path,
      files: Int, target: CdcTarget): StreamingQuery = {
    import spark.implicits._
    val events = ChangeIngest.readJsonFiles(spark, landing.toString, Some(files))
      .map(e => CdcEvent(e.event_id, e.ts, e.user_id, e.event_type, e.value))
    CdcStream.mergeInto(events, target, ckpt.toString, Trigger.ProcessingTime(0L))
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }

  private def listed(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Landed file name → micro-batch id, from the file source's log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    val dir = ckpt.resolve("sources/0")
    val s = Files.list(dir)
    try s.iterator.asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toSeq
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => Paths.get(new java.net.URI(m.group(1))).getFileName.toString ->
        m.group(2).toLong)
      .toMap
    finally s.close()
  }

  def run(): Map[String, Any] = {
    val warmDir = data.resolve("warm")
    val landing = data.resolve("landing")
    val staging = data.resolve("staging")
    val (spark, setupS) = ctx.setUp(Ctx.SetupReps) { s =>
      ChangeIngest.readJsonFilesBatch(s, warmDir.toString).count()
    }
    val rnd = new java.util.Random(ctx.seed)
    var attempted = 0L
    var failed = 0L
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def noteFailure(what: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(300)}"
    }
    // listener totals start after the set-ups; run.py keeps the timed
    // micro-batches' share of them
    ctx.resetStats(spark)
    // keep every batch's progress, not the default last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    // -- catch-up: drain the pre-landed backlog; the first batches warm up
    val root = work.resolve("table")
    val ckpt = work.resolve("ckpt")
    val merges = new ConcurrentLinkedQueue[(Long, Double)]()
    val base = new PartitionedTableCdcTarget(spark, root.toString)
    val target = if (ctx.traced) new TimedTarget(base, merges) else base
    val backlog = listed(landing)
    val wireBytes = backlog.map(Files.size).sum
    val q = tr.span("cdc.catchup") {
      val q = stream(spark, landing, ckpt, maxFiles, target)
      q.processAllAvailable()
      q
    }
    val catchupEndMs = System.currentTimeMillis()
    val catchupBatches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    val catchupDataBytes = dirBytes(root.resolve("data"))
    tr.span("warmup.reads") {
      (1 to 3).foreach { _ =>
        VersionedTable.readKey(spark, root.toString, "user_id",
          java.lang.Long.valueOf(rnd.nextInt(nKeys).toLong)).collect()
      }
    }

    // -- tail: scheduled landings plus a closed-loop point reader -----
    val tailFiles = listed(staging)
    val landed = new ConcurrentLinkedQueue[(String, Long, Long)]()
    val reads = new ConcurrentLinkedQueue[(Double, Double)]()
    val drained = new AtomicBoolean(false)
    val tailStart = System.currentTimeMillis() + 100
    val lander = new Thread(() => {
      try tailFiles.zipWithIndex.foreach { case (f, i) =>
        val due = tailStart + i * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(f, landing.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
        landed.add((f.getFileName.toString, due, System.currentTimeMillis()))
      }
    }, "perfbench-lander")
    val readErrors = new ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() => {
      ctx.tag(spark, "read")
      val keys = new java.util.Random(ctx.seed + 1)
      while (!drained.get()) {
        val key = java.lang.Long.valueOf(keys.nextInt(nKeys).toLong)
        try tr.span("read.point") {
          val r0 = System.nanoTime()
          val df = tr.span("sources.read_key")(
            VersionedTable.readKey(spark, root.toString, "user_id", key))
          val r1 = System.nanoTime()
          tr.span("read.fetch")(df.collect())
          reads.add(((r1 - r0) / 1e6, (System.nanoTime() - r1) / 1e6))
        } catch { case e: Throwable => readErrors.add(e) }
      }
    }, "perfbench-reader")
    tr.span("cdc.tail") {
      lander.start(); reader.start()
      // the reader keeps reading until the last tail file is committed,
      // so every tail micro-batch runs beside it
      try {
        lander.join()
        q.processAllAvailable()
      } catch { case e: Throwable => noteFailure("stream", e) }
      finally drained.set(true)
      reader.join()
    }
    val totalBatches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    // one record per executed micro-batch (idle triggers carry no addBatch)
    val progress = q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .map(p => Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    q.stop()
    q.exception.foreach(e => noteFailure("stream", e))
    attempted += totalBatches + reads.size + readErrors.size
    readErrors.asScala.foreach(e => noteFailure("read", e))

    // -- after the run: attribution, layout, decode rate, snapshot ----
    val commits = VersionedTable.history(spark, root.toString)
      .select("txn", "ts").collect()
      .flatMap(r => Option(r.get(0)).map(t => t.asInstanceOf[Long] ->
        r.getTimestamp(1).getTime)).toMap
    val batchOf = fileBatches(ckpt)
    val tailRecords = landed.asScala.toSeq.map { case (name, due, at) =>
      val b = batchOf.get(name)
      Map("file" -> name, "due_ms" -> due, "landed_ms" -> at, "batch" -> b,
        "commit_ms" -> b.flatMap(commits.get))
    }
    val pstats = VersionedTable.partStats(root.toString)
    val decode = if (!ctx.traced) None else Some(tr.span("sources.decode") {
      val d0 = System.nanoTime()
      ChangeIngest.readJsonFilesBatch(spark, landing.toString)
        .write.format("noop").mode("overwrite").save()
      Map("wall_s" -> (System.nanoTime() - d0) / 1e9,
        "records" -> listed(landing).map(f => Files.readAllLines(f).size.toLong).sum)
    })
    new PartitionedTableCdcTarget(spark, root.toString).snapshot
      .coalesce(1).write.mode("overwrite").parquet(work.resolve("snapshot").toString)
    val stats = ctx.sparkStats(spark)
    spark.stop()
    Map("workload_kind" -> "cdc", "setup_s" -> setupS,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "catchup" -> Map("end_ms" -> catchupEndMs, "warm_batches" -> warmBatches,
        "wire_bytes" -> wireBytes,
        "data_bytes" -> catchupDataBytes, "batches" -> catchupBatches),
      "tail" -> Map("files" -> tailRecords, "interval_ms" -> intervalMs),
      "reads" -> reads.asScala.toSeq.map { case (a, b) => Seq(a, b) },
      "merges" -> merges.asScala.toSeq.map { case (b, ms) => Seq(b, ms) },
      "progress" -> progress,
      "file_batches" -> batchOf,
      "partitions" -> Map("count" -> pstats.size,
        "files" -> pstats.values.map(_._2.toLong).sum),
      "data_bytes_written" -> dirBytes(root.resolve("data")),
      "decode" -> decode,
      "spark" -> stats)
  }
}
