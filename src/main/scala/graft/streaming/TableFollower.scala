package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Table→table incremental replication over the change feed — the
  * lakehouse-native analog of the reference's source→warehouse
  * replication loop (pipeline_manager.rs: consume the change stream,
  * apply keyed merges, track replication state): a downstream table
  * FOLLOWS an upstream [[VersionedTable]] by applying
  * [[VersionedTable.changes]] windows, one commit per tick.
  *
  * The cursor design is the point: the follower commits each window
  * `(from, head]` into the destination with the SOURCE version number
  * riding the destination manifest txn, so
  *  - exactly-once is the destination's existing manifest-txn guard —
  *    a replayed window is a whole-batch no-op;
  *  - the cursor is read back from `committedTxns(dst)` — there is no
  *    separate state store to keep consistent, and a crash anywhere
  *    leaves either the old cursor (window re-applies, guarded) or the
  *    new one (window done): the apply and the cursor write are the
  *    same atomic manifest link.
  *
  * Cursor txns are NAMESPACED by the source's incarnation identity
  * (r13, ADVICE r12): the committed txn is
  * `(hash(srcTableId) << 32) | srcVersion`, and the cursor reads only
  * txns in the current namespace. Two failure modes this closes:
  *  - '''foreign writer''': a CdcTarget batch committed to the
  *    followed destination would silently skip windows (its plain
  *    txn shares the integer space the old cursor read its max from)
  *    or stale-shadow replicated rows. Every commit now stamps its
  *    writer kind in the manifest (`wkind`, VERDICT r13), so the next
  *    tick THROWS on ANY non-follower data commit — whatever txn id
  *    the writer chose, follower-shaped (≥ 2³²) ids included; replica
  *    maintenance (compaction/rescale) is the one sanctioned
  *    co-writer. Pre-stamp history falls back to the plain-txn net.
  *  - '''upstream deleted-and-recreated''': the new incarnation mints
  *    a new [[VersionedTable.tableId]], the recorded
  *    [[VersionedTable.followSrc]] no longer matches, and the tick
  *    re-bootstraps from the new table's snapshot — even when the new
  *    head is below the old cursor (previously wedged forever) or its
  *    version numbers overlap the old incarnation's (previously a
  *    garbage cross-incarnation delta under the exactly-once guard).
  *  - a cursor ABOVE the source head within the SAME incarnation has
  *    no benign cause (history tampering); the tick throws.
  *
  * Data motion is O(changed partitions) per tick (the change feed's
  * pruning) + O(touched destination partitions) for the merge — never
  * O(table). The source's manifest SCHEMA rides each commit, so an
  * upstream widen replicates downstream with the same metadata-only
  * semantics. If the cursor version has been expired upstream
  * (retention shorter than follower lag), the tick auto-re-bootstraps
  * from the full snapshot under the same txn guard — heavy but
  * correct, and the operator sees it in the returned window. An
  * upstream [[VersionedTable.rescalePartitions]] moves every
  * partition's dir set, so that tick's diff degrades to a full
  * two-snapshot scan yielding zero phantom changes (the documented
  * one-time boundary cost); the destination keeps its own partition
  * count.
  *
  * DERIVED TABLES (r14): `transform` turns the follower into an
  * incrementally-maintained materialized view — the destination holds
  * `transform(source)` (a deterministic row-wise filter + projection,
  * e.g. "high-quality English docs only, scored") converged at
  * O(delta) per tick, never recomputed from the full source. The
  * semantics fall out of the keyed merge: every changed key's old
  * rows leave the destination, and only the TRANSFORMED post-images
  * that survive the transform's filter come back — so an update that
  * moves a row out of the filter deletes it downstream, and one that
  * moves it in inserts it. Contract: the transform must be
  * deterministic and key-preserving (every output row carries the
  * source `pk` unchanged; 1→N per key is fine — replacement is by
  * key). Aggregations, joins, or key-rewriting maps are out of
  * contract — they need retraction semantics, not a keyed merge.
  *
  * Single follower per destination root.
  */
class TableFollower(spark: SparkSession, srcRoot: String, dstRoot: String,
    pk: String, numPartitions: Int = 32,
    transform: DataFrame => DataFrame = TableFollower.Identity) {
  require(numPartitions > 0, "numPartitions must be positive")

  private def isIdentity = transform eq TableFollower.Identity

  /** Apply the derivation and insist its output still carries the
    * merge key — a transform that drops or renames `pk` would merge
    * garbage downstream, so it fails here instead. */
  private def derived(df: DataFrame): DataFrame = {
    val out = transform(df)
    require(out.columns.contains(pk),
      s"derived-table transform must preserve the key column '$pk' " +
        s"(got ${out.columns.mkString(", ")})")
    require(!out.columns.contains(VersionedTable.PidCol),
      s"'${VersionedTable.PidCol}' is the reserved internal partition " +
        "column — the transform must not emit it")
    out
  }

  private val Pid = VersionedTable.PidCol

  /** The source's current incarnation identity. "unstamped" only for
    * manifests predating the tableId stamp — when a later commit
    * mints one, the namespace changes and the follower pays a single
    * re-bootstrap (documented migration cost). */
  private def srcId: String =
    VersionedTable.tableId(srcRoot).getOrElse("unstamped")

  /** 31-bit nonzero namespace for `srcId` — follower txns are
    * `(namespace << 32) | srcVersion`, so they can never collide with
    * a plain micro-batch id and never straddle incarnations. Exposed
    * package-private so specs can forge in-namespace txns. */
  private[streaming] def namespace: Long = {
    val h = srcId.hashCode & 0x7fffffff
    if (h == 0) 1L else h.toLong
  }

  private def nsTxn(v: Int): Long = (namespace << 32) | (v.toLong & 0xffffffffL)

  /** Last source version applied to the destination (0 = nothing),
    * read from the current namespace's txns only. */
  def cursor: Int = {
    val ns = namespace
    VersionedTable.committedTxns(dstRoot).iterator
      .filter(t => (t >>> 32) == ns)
      .map(t => (t & 0xffffffffL).toInt)
      .foldLeft(0)(math.max)
  }

  /** Destination-manifest partition count wins over the constructor
    * (table state, as in the CDC targets). */
  private def effP: Int =
    VersionedTable.partCount(dstRoot).getOrElse(numPartitions)

  private def withPid(df: DataFrame, p: Int): DataFrame =
    df.withColumn(Pid, VersionedTable.keyPid(pk, p))

  /** Test seam: runs between a tick's staging and its commit so specs
    * can interleave a destination rescale into the race window
    * deterministically (the PartitionedMerge seam's twin). */
  private[streaming] var beforeCommit: () => Unit = () => ()

  /** Full-snapshot overwrite of the destination at source version
    * `head` — initial sync, expired-cursor recovery, and upstream
    * identity change all land here.
    *
    * `force` (identity-change path only) bypasses the txn-dedup
    * guard: the same (identity, version) txn may have been burnt by a
    * PRIOR ERA of this identity — a source restored from backup after
    * an interloper table lived at the path re-presents a tableId
    * whose nsTxn(head) the destination already carries, and a
    * guard-skipped bootstrap would leave the replica serving the
    * interloper's rows while reporting success. The forced commit
    * still records the txn and still retries commit races. */
  /** Memo for the derived-table output DDL, keyed by the SOURCE
    * schema DDL it was computed from: the output schema can only
    * change when the source schema does (the transform is a pure
    * function of its input frame's shape), so a tick re-derives it
    * only across an upstream widen (review r14 — the unmemoized form
    * listed every live source dir per tick just to analyze a
    * limit(0)). */
  @volatile private var dstDdlMemo: Option[(Option[String], String)] = None

  /** The DESTINATION schema DDL riding each commit: the source's
    * manifest schema for plain replication (typed-NULL widen
    * semantics carry through verbatim); the transform's OUTPUT schema
    * for derived tables. A schema-stamped source analyzes the
    * transform over an in-memory empty frame — no file listing at
    * all; an unstamped source (the fixed-schema targets, whose schema
    * cannot drift by construction) pays one footer-sampled analysis
    * and memoizes it. */
  private def dstSchemaDdl(head: Int): Option[String] = {
    val srcDdl = VersionedTable.manifestSchema(spark, srcRoot, head)
      .map(_.toDDL)
    if (isIdentity) return srcDdl
    dstDdlMemo match {
      case Some((key, out)) if key == srcDdl => Some(out)
      case _ =>
        val srcEmpty = srcDdl match {
          case Some(d) => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(d))
          case None => VersionedTable.readAt(spark, srcRoot, head).limit(0)
        }
        val out = derived(srcEmpty).schema.toDDL
        dstDdlMemo = Some((srcDdl, out))
        Some(out)
    }
  }

  private def bootstrap(head: Int, p: Int, sid: String,
      schemaDdl: Option[String], force: Boolean = false): Unit = {
    val snap = withPid(derived(VersionedTable.readAt(spark, srcRoot, head)), p)
    val staged = VersionedTable.stagePartitioned(snap, dstRoot, Pid)
    if (!force) {
      VersionedTable.commitPartitions(staged, dstRoot, batchId = nsTxn(head),
        overwriteAll = true, schemaDdl = schemaDdl, nParts = Some(p),
        followSrc = Some(sid), writerKind = VersionedTable.KindFollower)
      ()
    } else {
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        val base = VersionedTable.versions(dstRoot).lastOption.getOrElse(0)
        try {
          VersionedTable.commitPartitionsOnce(staged, dstRoot, base,
            overwriteAll = true, txn = Some(nsTxn(head)),
            schemaDdl = schemaDdl, nParts = Some(p), followSrc = Some(sid),
            writerKind = VersionedTable.KindFollower)
          done = true
        } catch {
          case e: VersionedTable.ConcurrentCommit =>
            if (attempt >= 5) throw e
        }
      }
    }
  }

  /** Apply everything committed upstream since the last tick. Returns
    * the applied (fromVersion, headVersion) window, or None when the
    * destination is already caught up. */
  def tick(): Option[(Int, Int)] = {
    val srcVersions = VersionedTable.versions(srcRoot)
    val head = srcVersions.lastOption.getOrElse(return None)
    val sid = srcId
    val recorded = VersionedTable.followSrc(dstRoot)
    // every follower commit stamps followSrc, and maintenance commits
    // carry it — a non-empty destination WITHOUT it was written by
    // someone else (including txn-less commit() calls the plain-txn
    // check below can't see, and replicas from before the provenance
    // stamp existed: those must be re-created, loudly, not guessed
    // at): refuse rather than overwrite it
    if (recorded.isEmpty && VersionedTable.versions(dstRoot).nonEmpty)
      throw new IllegalStateException(
        s"destination $dstRoot has commits but no follower provenance — " +
          "follow into an empty root, or one this follower wrote")
    // misuse must be loud (VERDICT r12 item 2), and it must be loud
    // BEFORE the identity branch below — an identity change must not
    // silently overwrite a foreign writer's data. Every commit stamps
    // its writer kind in the manifest (VERDICT r13 item 1), so ANY
    // non-follower data commit on the destination — whatever txn id
    // it chose, follower-shaped (≥ 2³²) included — throws here;
    // maintenance commits (compaction/rescale on the replica) are the
    // one sanctioned co-writer. The txn-shape check below remains as
    // the fallback net for history written before the stamp existed.
    val foreign = VersionedTable.committedKinds(dstRoot) -
      VersionedTable.KindFollower - VersionedTable.KindMaintenance -
      VersionedTable.KindUnstamped
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"destination $dstRoot carries commits from foreign writer " +
          s"kind(s) ${foreign.toSeq.sorted.mkString(",")} — a followed " +
          "destination accepts follower and maintenance commits only " +
          "(single-follower constraint)")
    val plain = VersionedTable.committedTxns(dstRoot)
      .filter(t => (t >>> 32) == 0)
    if (plain.nonEmpty)
      throw new IllegalStateException(
        s"destination $dstRoot carries non-follower txns " +
          s"${plain.toSeq.sorted.mkString(",")} — a followed destination " +
          "accepts follower commits only (single-follower constraint)")
    if (recorded.exists(_ != sid)) {
      // the table at srcRoot is not the one this replica was built
      // from (deleted-and-recreated upstream): cross-incarnation
      // deltas are garbage even when version numbers line up —
      // re-bootstrap under the new identity's namespace (the old
      // namespace's txns become inert history), FORCED past the
      // txn-dedup guard (see bootstrap)
      bootstrap(head, effP, sid, dstSchemaDdl(head), force = true)
      return Some((0, head))
    }
    val from = cursor
    if (from > head)
      throw new IllegalStateException(
        s"follower cursor v$from is beyond source head v$head under the " +
          "same table identity — source history was truncated/rewound " +
          "(restore from an older backup) or the destination carries a " +
          "forged txn; re-create the replica")
    if (head == from) return None
    // everything below the idle early-return is commit-path-only
    // work: an idle 1s-trigger fleet tick pays manifest listings and
    // the memoized txn scan, never a schema parse or partition read
    val p = effP
    val schemaDdl = dstSchemaDdl(head)
    val needBootstrap = from == 0 || !srcVersions.contains(from)
    if (needBootstrap) {
      // initial sync, or the cursor version was expired upstream:
      // full snapshot, overwrite commit, same txn guard
      bootstrap(head, p, sid, schemaDdl)
    } else {
      // persist: the pruned diff job otherwise re-runs for the empty
      // check, the touched-pid collect, AND the staged write — at the
      // design point each re-run re-reads every changed src partition
      val delta = VersionedTable.changes(spark, srcRoot, from, head, pk)
        .persist()
      try {
        if (delta.isEmpty) {
          // a data-identical upstream window (e.g. compaction): advance
          // the cursor with a metadata-only commit — untouched
          // partitions carry verbatim, no data moves
          VersionedTable.commitPartitions(Map.empty, dstRoot,
            batchId = nsTxn(head), schemaDdl = schemaDdl,
            followSrc = Some(sid),
            writerKind = VersionedTable.KindFollower)
        } else {
          // restage loop (PartitionedMerge's twin), under a writer
          // intent a destination rescale yields to: a rescale that
          // still lands inside this stage→commit window means the
          // staged dirs hash under a dead count — re-read the stamp
          // and restage instead of failing the tick
          VersionedTable.withWriterIntent(dstRoot) { renew =>
            var attempt = 0
            var done = false
            while (!done) {
              attempt += 1
              renew()
              val pNow = effP
              val withP = withPid(delta, pNow)
              val touched = withP.select(Pid).distinct().collect()
                .map(_.getInt(0)).toSet // bounded by the partition count
              // the rows coming back in: insert/update post-images,
              // through the derivation — a post-image the transform
              // filters out simply doesn't return, which IS the derived
              // delete (the key-removal below already took it out)
              val upserts = withPid(derived(
                delta.filter(col("_change_type") =!= "delete")
                  .drop("_change_type")), pNow)
              val parts = VersionedTable.parts(dstRoot)
              val existing: DataFrame = {
                val dirs = touched.toSeq.sorted
                  .flatMap(k => parts.getOrElse(k.toString, Nil))
                  .map(rel => java.nio.file.Paths.get(dstRoot, rel).toString)
                if (dirs.isEmpty) upserts.limit(0)
                else {
                  // destination rows read under the DESTINATION schema
                  // (= source schema for plain replication, transform
                  // output schema for derived tables)
                  val reader = schemaDdl
                    .map(d => spark.read.schema(
                      org.apache.spark.sql.types.StructType.fromDDL(d)))
                    .getOrElse(spark.read)
                  withPid(reader.parquet(dirs: _*), pNow)
                }
              }
              // replace-or-drop by pk: every changed key's old rows
              // leave, surviving (transformed) post-images come back in
              val merged = existing
                .join(withP.select(col(pk)).distinct(), Seq(pk), "left_anti")
                .unionByName(upserts)
              val staged = VersionedTable.stagePartitioned(merged, dstRoot, Pid)
              // a touched partition with NO surviving rows (every key
              // deleted) stages nothing — drop its label explicitly or
              // the old dir would ride the manifest and resurrect rows
              val emptied = touched.map(_.toString) -- staged.keySet
              beforeCommit()
              try {
                VersionedTable.commitPartitions(staged, dstRoot,
                  batchId = nsTxn(head), schemaDdl = schemaDdl,
                  dropParts = emptied, nParts = Some(pNow),
                  followSrc = Some(sid),
                  writerKind = VersionedTable.KindFollower)
                done = true
              } catch {
                case e: VersionedTable.PartitionCountChanged =>
                  if (attempt >= 3) throw e
              }
            }
          }
        }
      } finally delta.unpersist()
    }
    Some((from, head))
  }

  /** The destination as of its latest commit. */
  def snapshot: DataFrame = VersionedTable.read(spark, dstRoot)
}

object TableFollower {
  /** The no-transform marker — compared by REFERENCE so the plain
    * replication path (schema riding, merge frames) stays exactly its
    * pre-derived-table self. */
  val Identity: DataFrame => DataFrame = df => df
}
