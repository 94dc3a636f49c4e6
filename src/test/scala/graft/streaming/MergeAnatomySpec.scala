package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec

import graft.{JobProbe, ShuffleCount, SparkSpec}
import graft.sources.VersionedTable

/** What one partition-scoped merge costs, and that its result does not
  * depend on how Spark is configured:
  *  (a) a merge touching every partition runs at most 5 jobs, exactly
  *      one exchange between the scan and the write, a write stage of
  *      min(touched, cores) tasks, and stages one file per partition;
  *  (b) the same batches under shuffle.partitions ∈ {1, 4, 64} × AQE
  *      on/off give identical snapshots, equal to a latest-per-key
  *      fold (redeliveries and tombstones included);
  *  (c) a table written before the schema stamp keeps merging and
  *      reading, gains the stamp on its next merge, and a follower
  *      carries it;
  *  (d) a point read on a stamped table is one job (the data read).
  */
class MergeAnatomySpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private def ap(uid: Long, id: Long, t: Long, v: Double,
      del: Boolean = false) =
    CdcApplied(uid, id, new Timestamp(t), v, del)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-anatomy").toString

  private def byKey(df: org.apache.spark.sql.DataFrame): Map[Long, CdcApplied] =
    df.as[CdcApplied].collect().map(r => r.user_id -> r).toMap

  /** Runs `body` with the session's SQL confs set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The plan writes files (AQE wraps the whole write command). */
  private def isWrite(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => isWrite(a.initialPlan)
    case _ => p.exists(_.isInstanceOf[DataWritingCommandExec])
  }

  test("a merge touching every partition: 5 jobs, one exchange, a parallel write") {
    val P = 32
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, P)
    target.merge(0, (1L to 400L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    val batch = (1L to 400L).map(k => ap(k, 1000 + k, 5000 + k, -k.toDouble)).toDS()
    val touched = VersionedTable.parts(root).size
    assert(touched == P, s"400 keys must populate all $P partitions")

    val run = withConf("spark.sql.adaptive.enabled" -> "true") {
      JobProbe(spark)(target.merge(1, batch))
    }
    assert(run.jobs.size <= 5, s"merge ran ${run.jobs.size} jobs: $run")
    val writes = run.plans.filter(isWrite)
    assert(writes.size == 1, s"expected one staged write, saw ${writes.size}")
    assert(ShuffleCount.executedShuffles(writes.head) == 1,
      s"the merge must shuffle once between scan and write:\n${writes.head}")
    val writeStage = run.stages.filter(_.job == run.jobs.last).maxBy(_.id)
    assert(writeStage.tasks ==
      math.min(touched, spark.sparkContext.defaultParallelism),
      s"write stage ran ${writeStage.tasks} tasks: $run")
    val stats = VersionedTable.partStats(root)
    assert(stats.size == P && stats.values.forall(_._2 == 1),
      s"one file per touched partition, got $stats")
    assert(byKey(target.snapshot).values.forall(r => r.value == -r.user_id))
  }

  test("merge results do not depend on shuffle partitions or AQE") {
    // batch 3 redelivers batch 1 (same id and rows: the txn guard
    // skips it); batch 4 carries stale rows older than what is stored
    // and a stale pre-delete row for a tombstoned key
    val batches: Seq[(Long, Seq[CdcApplied])] = Seq(
      0L -> (1L to 60L).map(k => ap(k, k, 1000 + k, k.toDouble)),
      1L -> ((1L to 20L).map(k => ap(k, 100 + k, 2000 + k, k * 10.0)) ++
        (21L to 25L).map(k => ap(k, 100 + k, 2000 + k, 0.0, del = true))),
      2L -> ((61L to 80L).map(k => ap(k, 200 + k, 3000 + k, k.toDouble)) ++
        Seq(ap(2, 300, 2002, 2.5))), // same ts, higher event id: wins
      1L -> ((1L to 20L).map(k => ap(k, 100 + k, 2000 + k, k * 10.0)) ++
        (21L to 25L).map(k => ap(k, 100 + k, 2000 + k, 0.0, del = true))),
      3L -> ((5L to 10L).map(k => ap(k, 50 + k, 1500 + k, -1.0)) ++
        Seq(ap(21, 50, 1500, -1.0))))
    // independent oracle: the sequence-max row per key over the batches
    // once each, tombstones kept as rows
    val oracle: Map[Long, CdcApplied] = batches.distinctBy(_._1)
      .flatMap(_._2).groupBy(_.user_id).map { case (k, rs) =>
        k -> rs.maxBy(r => (r.ts.getTime, r.event_id))
      }
    val results = for (sp <- Seq("1", "4", "64"); aqe <- Seq("true", "false"))
      yield withConf("spark.sql.shuffle.partitions" -> sp,
          "spark.sql.adaptive.enabled" -> aqe) {
        val root = freshRoot()
        val target = new PartitionedTableCdcTarget(spark, root, 8)
        batches.foreach { case (id, rows) => target.merge(id, rows.toDS()) }
        s"shuffle.partitions=$sp aqe=$aqe" -> byKey(VersionedTable.read(spark, root))
      }
    results.foreach { case (conf, got) =>
      assert(got == oracle, s"$conf diverged from the latest-per-key fold")
    }
  }

  test("a table written before the schema stamp gains it; a follower carries it") {
    val root = freshRoot(); val dst = freshRoot()
    // the pre-stamp layout: a partitioned commit with no schema
    val pid = VersionedTable.PidCol
    val old = (1L to 30L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS().toDF()
      .withColumn(pid, VersionedTable.keyPid("user_id", 4))
    VersionedTable.commitPartitions(
      VersionedTable.stagePartitioned(old, root, pid), root, batchId = 0,
      nParts = Some(4))
    def headSchema(r: String) =
      VersionedTable.manifestSchema(spark, r, VersionedTable.versions(r).last)
    assert(headSchema(root).isEmpty)
    assert(VersionedTable.readKey(spark, root, "user_id", java.lang.Long.valueOf(7))
      .as[CdcApplied].collect().map(_.value).toSeq == Seq(7.0))
    val follower = new TableFollower(spark, root, dst, "user_id", 4)
    follower.tick()
    assert(headSchema(dst).isEmpty)

    val target = new PartitionedTableCdcTarget(spark, root, 4)
    target.merge(1, Seq(ap(7, 100, 9000, 7.5), ap(31, 101, 9001, 31.0)).toDS())
    assert(headSchema(root).contains(PartitionedTableCdcTarget.Schema),
      s"the next merge must stamp the schema: ${headSchema(root)}")
    val snap = byKey(target.snapshot)
    assert(snap.size == 31 && snap(7L).value == 7.5 && snap(3L).value == 3.0)
    assert(VersionedTable.readKey(spark, root, "user_id", java.lang.Long.valueOf(7))
      .as[CdcApplied].collect().map(_.value).toSeq == Seq(7.5))

    assert(follower.tick().isDefined)
    assert(headSchema(dst).contains(PartitionedTableCdcTarget.Schema),
      s"the follower dropped the stamp: ${headSchema(dst)}")
    assert(byKey(follower.snapshot) == byKey(VersionedTable.read(spark, root)))
  }

  test("a point read on a stamped table runs one job") {
    val root = freshRoot()
    val target = new PartitionedTableCdcTarget(spark, root, 8)
    target.merge(0, (1L to 50L).map(k => ap(k, k, 1000 + k, k.toDouble)).toDS())
    var got = Seq.empty[Double]
    val run = JobProbe(spark) {
      got = VersionedTable.readKey(spark, root, "user_id", java.lang.Long.valueOf(42))
        .as[CdcApplied].collect().map(_.value).toSeq
    }
    assert(got == Seq(42.0))
    assert(run.jobs.size == 1, s"a point read ran ${run.jobs.size} jobs")
  }
}
