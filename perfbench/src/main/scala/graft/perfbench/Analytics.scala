package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** Closed-loop analytics: one client runs the query list one query at a
  * time, pass after pass.
  *
  *  1. set-up: session start plus opening every input table (its parquet
  *     schema), `Ctx.SetupReps` times (the last session is kept);
  *  2. warm-up: one untimed pass whose results are written as parquet for
  *     the DuckDB oracle check run.py makes;
  *  3. timed passes until `seconds` have elapsed (at least one).
  *
  * Every query run, warm-up included, first pays the producer's full
  * cost: cached frames are dropped and the cross-query memos are
  * invalidated (Bench's contract). A query's time is split into build
  * (the `SparkEntry.queries` call, which runs the eager `Ckpt` staging
  * jobs), plan (traced only: `executedPlan`) and exec (the noop write). */
final class Analytics(ctx: Ctx, queries: Seq[String]) {
  private val tr = ctx.trace
  private var attempted = 0L
  // listener tags are `<phase>/<query>|<step>`, so warm-up jobs stay
  // apart from the timed passes' totals
  private var phase = "warmup"
  private val errors = mutable.ArrayBuffer.empty[String]

  private def producerPays(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.operators.PipelineOps.invalidateClusterMemo()
    graft.operators.SimilarityOps.invalidateKmMemo()
    graft.operators.SimilarityOps.invalidatePqMemo()
    graft.operators.TextOps.invalidateBpeMemo()
  }

  /** Runs one query; returns (build, plan, exec) ms, or None if it threw. */
  private def runQuery(spark: SparkSession, q: String, sink: DataFrame => Unit)
      : Option[(Double, Double, Double)] = {
    attempted += 1
    producerPays(spark)
    try tr.span(s"query:$q") {
      ctx.tag(spark, s"$phase/$q|build")
      val t0 = System.nanoTime()
      val df = tr.span("operators.build")(SparkEntry.queries(q)(spark, ctx.data))
      val t1 = System.nanoTime()
      if (ctx.traced) {
        ctx.tag(spark, s"$phase/$q|plan")
        tr.span("engine.plan")(df.queryExecution.executedPlan)
      }
      val t2 = System.nanoTime()
      ctx.tag(spark, s"$phase/$q|exec")
      tr.span("execution")(sink(df))
      val t3 = System.nanoTime()
      Some(((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6))
    } catch { case e: Throwable =>
      errors += s"$q: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(300)}"
      None
    } finally ctx.tag(spark, null)
  }

  def run(): Map[String, Any] = {
    val (spark, setupS) = ctx.setUp(Ctx.SetupReps) { s =>
      Tables.All.foreach(t => Tables.load(s, ctx.data, t).schema)
    }
    val resultsDir = Files.createDirectories(Paths.get(ctx.out, "results"))
    // written under a temporary name and renamed: run.py starts reading
    // as soon as the file appears
    val sqlTmp = resultsDir.resolve("oracle_sql.json.tmp")
    Files.writeString(sqlTmp, Json(SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))))
    Files.move(sqlTmp, resultsDir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
    val w0 = System.nanoTime()
    tr.span("warmup") {
      queries.foreach { q =>
        runQuery(spark, q, _.coalesce(1).write.mode("overwrite")
          .parquet(resultsDir.resolve(q).toString))
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    // run.py computes the DuckDB answers beside the warm-up; they must be
    // done before the timed passes start
    val done = Paths.get(ctx.out, "oracle.done")
    val giveUp = System.nanoTime() + 120L * 1000000000L
    while (!Files.exists(done) && System.nanoTime() < giveUp) Thread.sleep(50)

    phase = "pass"
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      pass += 1
      val p0 = System.nanoTime()
      val timed = tr.span("pass") {
        queries.flatMap(q => runQuery(spark, q, noop).map { case (b, p, e) =>
          q -> Map("build_ms" -> b, "plan_ms" -> p, "exec_ms" -> e,
            "wall_ms" -> (b + p + e))
        })
      }
      passes += Map("pass" -> pass, "wall_s" -> (System.nanoTime() - p0) / 1e9,
        "queries" -> timed.toMap)
    }
    val stats = ctx.sparkStats(spark)
    spark.stop()
    Map("workload_kind" -> "analytics", "setup_s" -> setupS,
      "warmup_s" -> warmupS, "passes" -> passes.toSeq,
      "attempted" -> attempted, "failed" -> errors.size.toLong,
      "errors" -> errors.toSeq,
      "spark" -> stats)
  }
}
