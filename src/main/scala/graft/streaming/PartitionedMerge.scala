package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** THE partition-scoped guarded lakehouse merge — one body shared by
  * [[PartitionedTableCdcTarget]] (fixed CdcApplied schema) and
  * [[TableEvolvingCdcTarget]] (evolving schema): VERDICT r12 item 3 —
  * the two targets had drifted into parallel implementations of the
  * same merge; the fixed-schema path is now a parametrization
  * (pk/seqCols/cols/readSchema) of this core, not a second copy.
  *
  * Steps:
  *  1. redelivery fast-path before any staging (manifest txn guard);
  *  2. partition count resolved from TABLE state ([[VersionedTable
  *     .partCount]]), the constructor count only seeding fresh tables;
  *  3. touched pids from a per-partition LOCAL distinct over the
  *     persisted batch — one job, no shuffle (the result is bounded
  *     by the partition count — a control-plane frame);
  *  4. read ONLY the touched partitions — under `readSchema`, so no
  *     schema-inference job — union the batch, repartition by pid
  *     into [[VersionedTable.writeTasks]] tasks (the one shuffle),
  *     and keep latest-per-key under the lexicographic `seqCols` order
  *     grouped by (pid, key): the same groups as grouping by key,
  *     because pid is a pure function of the key, so the aggregate
  *     needs no second exchange;
  *  5. stage in one partitioned write whose own repartition matches
  *     step 4's layout and is dropped by Spark — up to `writeTasks`
  *     tasks write one file per touched partition in parallel — and
  *     publish via [[VersionedTable.commitPartitions]]: untouched dirs
  *     carried verbatim, write amplification O(touched), not O(table).
  *
  * Rescale safety (r13): steps 2–5 run under a writer intent
  * ([[VersionedTable.withWriterIntent]]), which a
  * [[VersionedTable.rescalePartitions]] yields to. A rescale that
  * still lands between step 2's layout read and step 5's commit means
  * the staged dirs were hashed under a DEAD count — the commit throws
  * [[VersionedTable.PartitionCountChanged]] and the outer loop here
  * restages under the count now stamped on the manifest (the orphaned
  * dirs are vacuum debris). Without the loop the writer would either
  * corrupt the layout (unguarded) or wedge (guard with no retry).
  *
  * @param beforeCommit test seam: runs between staging and commit so
  *   specs can interleave a rescale deterministically into the race
  *   window; production callers leave the no-op default
  */
private[streaming] object PartitionedMerge {

  private val Pid = VersionedTable.PidCol

  def merge(spark: SparkSession, root: String, batchId: Long,
      rows: DataFrame, pk: String, seqCols: Seq[String], cols: Seq[String],
      configuredP: Int, readSchema: Option[StructType] = None,
      schemaDdl: Option[String] = None, migrateFlat: Boolean = false,
      beforeCommit: () => Unit = () => ()): Unit = {
    // redelivery fast-path: skip BEFORE staging any data (the txn
    // check inside commitPartitions still guards the race window)
    if (VersionedTable.committedTxns(root).contains(batchId)) return
    val tasks = VersionedTable.writeTasks(spark)
    VersionedTable.withWriterIntent(root) { renew =>
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        renew()
        val p = VersionedTable.partCount(root).getOrElse(configuredP)
        val parts = VersionedTable.parts(root)
        val flatLegacy = migrateFlat && parts.isEmpty &&
          VersionedTable.versions(root).nonEmpty
        val batch = rows.withColumn(Pid, VersionedTable.keyPid(pk, p)).persist()
        try {
          val touched: Set[Int] =
            if (flatLegacy) (0 until p).toSet
            else batch.select(Pid).as(Encoders.scalaInt)
              .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
              .collect().toSet
          // an empty batch merges nothing: no-op
          if (touched.isEmpty) done = true
          else {
            val existing: DataFrame =
              if (flatLegacy)
                // migration: read the whole flat snapshot once; the
                // commit below is a full partitioned rewrite
                VersionedTable.read(spark, root)
              else {
                val dirs = touched.toSeq.sorted
                  .flatMap(k => parts.getOrElse(k.toString, Nil))
                  .map(rel => Paths.get(root, rel).toString)
                if (dirs.isEmpty) rows.limit(0)
                else readSchema.map(spark.read.schema(_)).getOrElse(spark.read)
                  .parquet(dirs: _*)
              }
            val staged = VersionedTable.stagePartitioned(
              latest(existing, batch, pk, seqCols, cols, p, tasks),
              root, Pid, tasks)
            beforeCommit()
            try {
              VersionedTable.commitPartitions(staged, root, batchId,
                overwriteAll = flatLegacy, schemaDdl = schemaDdl,
                nParts = Some(p))
              done = true
            } catch {
              case e: VersionedTable.PartitionCountChanged =>
                if (attempt >= 5) throw e
              // a rescale raced this merge: loop restages under the
              // count now stamped on the manifest
            }
          }
        } finally batch.unpersist()
      }
    }
  }

  /** Latest row per key over `existing ∪ batch`, laid out for the
    * write: ONE exchange (by pid, into `tasks` partitions), then the
    * aggregate grouped by the SAME pid attribute plus the key, so the
    * layout survives the aggregate and the projection and the write's
    * own repartition is dropped. Partition files live under pid= dirs
    * (the column is the dir, not a parquet column), so `existing`
    * gets it recomputed — a pure function of the key, so exact. */
  private def latest(existing: DataFrame, batch: DataFrame, pk: String,
      seqCols: Seq[String], cols: Seq[String], p: Int, tasks: Int): DataFrame = {
    val rest = cols.filterNot(_ == pk)
    existing.withColumn(Pid, VersionedTable.keyPid(pk, p))
      .unionByName(batch)
      .repartition(tasks, col(Pid))
      .groupBy(col(Pid), col(pk))
      .agg(max_by(struct(rest.map(col): _*),
        struct(seqCols.map(col): _*)).as("r"))
      .select(cols.map(c =>
        if (c == pk) col(pk) else col("r").getField(c).as(c)) :+ col(Pid): _*)
  }
}
