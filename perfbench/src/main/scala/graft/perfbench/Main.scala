package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.sources.ChangeIngest

/** Benchmark harness entry point, driven by `perfbench/run.py`.
  *
  * {{{
  *   Main analytics data=<dir> out=<dir> queries=a,b,c seconds=<n> trace=0|1 run_id=<id>
  *   Main cdc       data=<dir> out=<dir> seconds=<n> trace=0|1 run_id=<id> seed=<n>
  *                  max_files=<n> warm_batches=<n> interval_ms=<n> n_keys=<n>
  *   Main archive   data=<dir> out=<dir> seconds=0 trace=0 run_id=<id>
  * }}}
  * Writes `<out>/result.json` with the raw measurements (and, traced,
  * `<out>/spans.jsonl`); run.py turns them into metrics and checks
  * correctness. */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val ctx = Ctx(opts("data"), opts("out"), opts("seconds").toInt,
      opts("trace") == "1", opts("run_id"), opts.getOrElse("seed", "0").toLong, opts)
    Files.createDirectories(Paths.get(ctx.out))
    val result = mode match {
      case "analytics" => new Analytics(ctx, opts("queries").split(",").toSeq).run()
      case "cdc" => new Cdc(ctx).run()
      // the class-data archive's training run: one session, one small read
      case "archive" =>
        val (spark, _) = ctx.setUp(1)(s => ChangeIngest.readJsonFilesBatch(s, ctx.data).count())
        spark.stop()
        Map.empty[String, Any]
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    val stamped = result ++ Map(
      "master" -> s"local[${Engine.cpus}]",
      "peak_rss_mb" -> peakRssMb(),
      "self_ms" -> ctx.trace.selfMs)
    if (ctx.traced) ctx.trace.write(Paths.get(ctx.out, "spans.jsonl"))
    Files.writeString(Paths.get(ctx.out, "result.json"), Json(stamped))
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double = {
    val status = Files.readString(Paths.get("/proc/self/status"))
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(-1.0)
  }
}

object Ctx {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
}

/** What every workload needs: paths, the measurement window, tracing. */
final case class Ctx(data: String, out: String, seconds: Int, traced: Boolean,
    runId: String, seed: Long, opts: Map[String, String]) {
  val trace = new Trace(traced, runId)
  val stats: Option[SparkStats] = if (traced) Some(new SparkStats) else None

  /** Session set-up, done `reps` times; the last session is kept. Each
    * repetition stops the previous session, starts a fresh one through
    * `Engine.session` (extensions and config included) and runs
    * `load`, which reads the workload's inputs once. */
  def setUp(reps: Int)(load: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to reps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = trace.span("setup") {
        val s = trace.span("engine.session")(Engine.session("graft-perfbench"))
        trace.span("inputs.load")(load(s))
        s
      }
      (System.nanoTime() - t0) / 1e9
    }
    stats.foreach(spark.sparkContext.addSparkListener(_))
    (spark, times)
  }

  def tag(spark: SparkSession, t: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(SparkStats.TagKey, t)

  def resetStats(spark: SparkSession): Unit = stats.foreach { s =>
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    s.reset()
  }

  def sparkStats(spark: SparkSession): Map[String, Map[String, Any]] =
    stats.map { s =>
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      s.snapshot
    }.getOrElse(Map.empty)
}
