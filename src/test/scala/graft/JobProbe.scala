package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftprobe.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what one block costs in Spark terms: the jobs it ran on the
  * calling thread (tagged with a fresh job group, so work elsewhere on
  * the shared session cannot leak in), the completed stages of those
  * jobs, and the executed plans of the queries that finished meanwhile. */
object JobProbe {

  /** A completed stage: its job and its task count. */
  final case class Stage(id: Int, job: Int, tasks: Int)

  final case class Run(jobs: Seq[Int], stages: Seq[Stage], plans: Seq[SparkPlan])

  def apply(spark: SparkSession)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val group = s"jobprobe-${UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(Int, Seq[Int])]()
    val done = new ConcurrentLinkedQueue[(Int, Int)]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.jobId -> e.stageIds)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.add(e.stageInfo.stageId -> e.stageInfo.numTasks)
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    sc.setJobGroup(group, "JobProbe")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
    val js = jobs.asScala.toSeq.sortBy(_._1)
    val tasks = done.asScala.toMap
    // a completed stage belongs to the FIRST job listing it: later jobs
    // list the shuffle stages they reuse (skipped, never re-run)
    val stages = (for ((job, ids) <- js; id <- ids.sorted; n <- tasks.get(id))
      yield Stage(id, job, n)).distinctBy(_.id)
    Run(js.map(_._1), stages, plans.asScala.toSeq)
  }
}
