package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sources.Publish

/** Shared pieces of the three index families' exactly-once batch-commit
  * protocols (BM25 [[Retrieval.appendBm25IndexBatch]], positional
  * [[Retrieval.appendPositionalIndexBatch]], IVF
  * [[Similarity.appendIvfIndexBatch]]):
  *
  *   - commit markers, frontiers and snapshot readers' view of them;
  *     the file moves and small-file writes themselves go through
  *     [[graft.sources.Publish]] (its staged-file manifest makes redo
  *     after a crash O(batch's files) instead of a listing of every
  *     bucket directory — buckets × batches namenode calls on the hot
  *     streaming path: invisible at 64 buckets, a metadata hot loop at
  *     4096);
  *   - the WRITER LEASE: the batch protocols assume ONE writer —
  *     interleaved marker/dirty-flag writes from a second concurrent
  *     stream would corrupt derived state silently. The lease file pins
  *     the index to a writer identity (the stream's checkpoint location
  *     is the natural id); a second writer with a different id fails
  *     loudly instead. The SAME id re-acquires freely — a restarted
  *     incarnation of the owning stream is the expected redelivery case,
  *     indistinguishable from and safe under the idempotent protocol.
  *     Decommissioning a stream hands the index over via
  *     [[releaseLease]]. On filesystems with atomic rename-no-replace
  *     (HDFS, local) the acquisition race between two new writers is
  *     decided by the rename; object stores would use a conditional put.
  */
private[graft] object IndexProtocol {

  /** One metadata read of a commits directory, interpreted for SNAPSHOT
    * READERS (the serving-side complement of the writer protocols):
    *
    *   - `committedAppends`: batches whose `batch_<id>` marker exists —
    *     the visibility frontier; everything a reader serves must come
    *     from these (or from pre-protocol `part-*`/`compact-*` files,
    *     which only a completed build/compaction creates).
    *   - `uncommittedAppends`: `staged_<id>` manifests with no marker —
    *     an append in flight or crashed mid-protocol. The manifest is
    *     written BEFORE any rename, so every data file such a batch can
    *     have landed carries its `b<id>-` prefix and is excludable by
    *     name.
    *   - `inflightDeletes`: delete-leg write-ahead state (`delstate_`,
    *     `struck_`, `delflag_`) with no `del_<id>` marker. Delete legs
    *     rewrite bucket files IN PLACE — there is no pre-image to
    *     reconstruct — so snapshot readers refuse loudly rather than
    *     serve a half-deleted index.
    *
    * `fingerprint` is the sorted name listing: two listings taken around
    * a scan's file-index pin compare equal iff no protocol transition
    * happened in between (markers, manifests, and flags are only ever
    * created/removed, never modified in place — except the dirty flag,
    * which its owner tracks separately).
    */
  final case class CommitsState(
      committedAppends: Set[Long],
      stagedAppends: Set[Long],
      delMarkers: Set[Long],
      writeAheadDeletes: Set[Long],
      frontierBatch: Long,
      frontierDel: Long,
      fingerprint: Seq[String]) {
    /** Batch `id` is committed: an explicit marker, or folded into the
      * frontier by [[compactCommitMarkers]] (ids are monotone per the
      * protocols' replay contract, so `≤ frontier` is exact).
      */
    def isCommitted(id: Long): Boolean =
      id <= frontierBatch || committedAppends.contains(id)
    def isDelDone(id: Long): Boolean =
      id <= frontierDel || delMarkers.contains(id)
    def uncommittedAppends: Set[Long] = stagedAppends.filterNot(isCommitted)
    def inflightDeletes: Set[Long] = writeAheadDeletes.filterNot(isDelDone)
  }

  private def readFrontier(fs: FileSystem, commitsDir: Path,
      name: String): Long = {
    val p = new Path(commitsDir, name)
    readLinesIfExists(fs, p).flatMap(_.headOption).map(_.toLong)
      .getOrElse(Long.MinValue)
  }

  def commitsState(fs: FileSystem, commitsDir: Path): CommitsState = {
    // one metadata call, not exists+list: a missing dir IS the empty
    // state (serving calls run this 2× per pin dance — fixed per-serve
    // metadata round trips amplify under contention, r10 verdict #1)
    val names =
      try fs.listStatus(commitsDir).map(_.getPath.getName).toSeq.sorted
      catch { case _: java.io.FileNotFoundException =>
        return CommitsState(Set.empty, Set.empty, Set.empty, Set.empty,
          Long.MinValue, Long.MinValue, Nil)
      }
    def ids(prefix: String): Set[Long] = names.iterator
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)
      .toSet
    // "del_" does not prefix-collide with "delstate_"/"delflag_": the
    // char after "del" differs, and non-numeric suffixes parse to None
    CommitsState(
      committedAppends = ids("batch_"),
      stagedAppends = ids("staged_"),
      delMarkers = ids("del_"),
      writeAheadDeletes = ids("delstate_") ++ ids("struck_") ++ ids("delflag_"),
      frontierBatch =
        if (names.contains("frontier_batch"))
          readFrontier(fs, commitsDir, "frontier_batch") else Long.MinValue,
      frontierDel =
        if (names.contains("frontier_del"))
          readFrontier(fs, commitsDir, "frontier_del") else Long.MinValue,
      fingerprint = names)
  }

  /** Writer-side committed check: marker present, or folded under the
    * frontier. One exists + (at most) one tiny read — called once per
    * batch, not per row.
    */
  def isMarked(fs: FileSystem, commitsDir: Path, markerName: String,
      frontierName: String, id: Long): Boolean =
    fs.exists(new Path(commitsDir, markerName)) ||
      readFrontier(fs, commitsDir, frontierName) >= id

  /** Fold a QUIESCENT index's per-batch commit markers into the two
    * frontier files — the metadata-growth answer for long-lived streamed
    * indexes: without this, every snapshot read's commits listing and
    * every redelivery check walks one marker per batch ever ingested
    * (10⁶ streamed batches = 10⁶ names per listStatus on the serving
    * path). After compaction the dir holds O(1) names; `id ≤ frontier`
    * answers exactly what the deleted markers did, because the append
    * protocols require monotone batch ids (replay order) — a future
    * batch id is always above the frontier, a redelivered one at or
    * below it fast-paths exactly as if its marker were present.
    *
    * Crash-safe: the frontier file is written atomically FIRST, then the
    * superseded markers are deleted — any prefix of the deletes is
    * consistent (marker-or-frontier), and a re-run completes the sweep.
    * Refuses unless quiescent (no staged-without-marker, no in-flight
    * delete leg, and — via `dirtyPath` — no live dirty flag): folding an
    * uncommitted id under the frontier would declare a half-applied
    * batch committed forever.
    */
  def compactCommitMarkers(fs: FileSystem, commitsDir: Path,
      dirtyPath: Option[Path] = None): (Long, Long) = {
    val st = commitsState(fs, commitsDir)
    require(st.uncommittedAppends.isEmpty,
      s"compactCommitMarkers: append(s) ${st.uncommittedAppends} are " +
        "staged but uncommitted — compact only a quiescent index")
    require(st.inflightDeletes.isEmpty,
      s"compactCommitMarkers: delete leg(s) ${st.inflightDeletes} in " +
        "flight — compact only a quiescent index")
    dirtyPath.foreach(p => require(!fs.exists(p),
      s"compactCommitMarkers: dirty flag $p present — sweep or redeliver " +
        "before compacting"))
    val fb = (st.committedAppends + st.frontierBatch).max
    val fd = (st.delMarkers + st.frontierDel).max
    if (fb > Long.MinValue)
      Publish.writeLinesAtomic(fs, new Path(commitsDir, "frontier_batch"),
        Seq(fb.toString))
    if (fd > Long.MinValue)
      Publish.writeLinesAtomic(fs, new Path(commitsDir, "frontier_del"),
        Seq(fd.toString))
    st.committedAppends.foreach(id =>
      fs.delete(new Path(commitsDir, s"batch_$id"), false))
    st.delMarkers.foreach(id =>
      fs.delete(new Path(commitsDir, s"del_$id"), false))
    // stale write-ahead litter under the frontier (crash between a
    // marker and its clears) is swept with the markers
    st.stagedAppends.foreach(id =>
      fs.delete(new Path(commitsDir, s"staged_$id"), false))
    st.writeAheadDeletes.foreach { id =>
      fs.delete(new Path(commitsDir, s"delstate_$id"), false)
      fs.delete(new Path(commitsDir, s"delflag_$id"), false)
      fs.delete(new Path(commitsDir, s"struck_$id"), true)
    }
    (fb, fd)
  }

  /** Pin a serving scan against a STABLE commits state — the snapshot
    * readers' race-closing dance. The scan's file set is fixed when the
    * DataFrame is constructed (`pin()` builds the FileIndex eagerly);
    * listing the commits dir before AND after that pin proves no
    * protocol transition straddled it, because every transition creates
    * or removes a name in the dir (staged manifest before any rename,
    * marker at commit, write-ahead files around deletes). On a
    * fingerprint mismatch the whole dance retries — re-pinning is
    * mandatory, not just re-listing: a batch that COMMITTED between the
    * two listings may have only half its files in the stale pin.
    * Bounded retries: a writer takes seconds per transition, the dance
    * takes milliseconds, so a second attempt virtually always lands in
    * a stable window.
    *
    * Returns the pinned frame plus the stable state; throws loudly when
    * a delete leg is in flight (in-place rewrites have no pre-image to
    * serve — see [[CommitsState]]).
    */
  def pinnedSnapshot(fs: FileSystem, commitsDir: Path,
      extraState: () => Seq[String],
      pin: () => org.apache.spark.sql.DataFrame,
      what: String): (org.apache.spark.sql.DataFrame, CommitsState, Seq[String]) = {
    var attempts = 0
    while (attempts < 6) {
      val pre = commitsState(fs, commitsDir)
      val preX = extraState()
      val df = pin()
      val post = commitsState(fs, commitsDir)
      val postX = extraState()
      if (pre.fingerprint == post.fingerprint && preX == postX) {
        if (post.inflightDeletes.nonEmpty)
          throw new IllegalStateException(
            s"$what: index delete leg in flight (batch " +
              s"${post.inflightDeletes.min}) — deletes rewrite bucket files " +
              "in place with no pre-image to serve; retry after the leg's " +
              "del_ marker commits")
        return (df, post, postX)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"$what: commits state kept changing across $attempts pin attempts — " +
        "is a writer thrashing protocol transitions?")
  }

  /** Exclude an uncommitted batch's data files from a pinned scan by
    * their deterministic `b<id>-<i>.parquet` names ([[Publish.moveStagedIn]]'s
    * naming). Files from completed builds/compactions (`part-*`,
    * `compact-*`) don't match the pattern and always serve. Apply AFTER
    * the deterministic partition-pruning filters: `input_file_name` is
    * nondeterministic, and a filter below it would not push down to the
    * scan. The quiescent path never calls this (uncommitted is empty),
    * so steady-state plans are unchanged.
    */
  def excludeUncommitted(df: org.apache.spark.sql.DataFrame,
      uncommitted: Set[Long]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (uncommitted.isEmpty) df
    else df.filter(!regexp_extract(input_file_name(),
        "/b(\\d+)-\\d+\\.parquet$", 1)
      .isin(uncommitted.toSeq.sorted.map(_.toString): _*))
  }

  def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** `readLines` for maybe-absent protocol files in ONE metadata call —
    * open and catch, instead of exists-then-read (each serving call
    * probes the dirty flag twice through this).
    */
  def readLinesIfExists(fs: FileSystem, p: Path): Option[Seq[String]] =
    try Some(readLines(fs, p))
    catch { case _: java.io.FileNotFoundException => None }

  /** Parsed lease state: legacy single-line leases (writerId only,
    * pre-liveness) read as epoch 0.
    */
  private def readLease(fs: FileSystem, lease: Path): Option[(String, Long)] =
    readLinesIfExists(fs, lease).map { ls =>
      (ls.headOption.getOrElse(""),
        ls.lift(1).flatMap(e => scala.util.Try(e.toLong).toOption)
          .getOrElse(0L))
    }

  /** Acquire (or re-acquire) the single-writer lease under `commitsDir`;
    * returns the lease EPOCH the caller must present back at its commit
    * points ([[assertLease]]).
    *
    * Same `writerId` → success, and the re-acquire refreshes the lease
    * file's mtime — the HEARTBEAT (a streamed writer re-acquires every
    * batch, so a live stream's lease is never older than its batch
    * interval). Different id → IllegalStateException, loudly — UNLESS
    * the caller passed a finite `ttlMs` and the lease's heartbeat is
    * older than it: then the owner is presumed DEAD and this writer
    * FENCES it, taking the lease at `epoch + 1`. The fenced writer's
    * next protocol step fails loudly: its re-acquire sees a foreign
    * owner, and its in-flight commit point fails [[assertLease]] on the
    * epoch bump. (Without this, a writer that died without
    * [[releaseLease]] pinned the index forever — the r10 verdict's
    * first operational page at 100 TB.)
    *
    * `ttlMs` must be comfortably larger than the owner's heartbeat
    * interval (its trigger/batch cadence); Long.MaxValue (the default)
    * disables fencing entirely — the pre-liveness behavior.
    *
    * Races: first acquisition is decided by rename-no-replace. A fence
    * race between two successors is narrowed the same way (each renames
    * its own candidate, then re-reads), and whichever id the lease file
    * finally holds wins at every subsequent [[assertLease]]/re-acquire —
    * on an object store the rename pair becomes a conditional put.
    */
  def acquireLease(fs: FileSystem, commitsDir: Path, writerId: String,
      what: String, ttlMs: Long = Long.MaxValue): Long = {
    val lease = new Path(commitsDir, "writer")
    readLease(fs, lease) match {
      case Some((owner, epoch)) if owner == writerId =>
        // heartbeat: refresh mtime so a finite-TTL successor sees life
        try fs.setTimes(lease, System.currentTimeMillis(), -1)
        catch { case _: java.io.FileNotFoundException => () }
        epoch
      case Some((owner, epoch)) =>
        val ageMs =
          try System.currentTimeMillis() -
            fs.getFileStatus(lease).getModificationTime
          catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        if (ttlMs == Long.MaxValue || ageMs <= ttlMs)
          throw new IllegalStateException(
            s"$what: index is leased to writer '$owner' (epoch $epoch, " +
              s"heartbeat ${ageMs / 1000}s ago" +
              (if (ttlMs == Long.MaxValue) "" else s", ttl ${ttlMs / 1000}s") +
              s"); this writer is '$writerId'. A second concurrent stream " +
              "on one index would corrupt derived state — decommission the " +
              "owner and call releaseLease, or pass a ttl to fence a dead one.")
        // heartbeat expired: fence the dead owner at epoch + 1
        writeLease(fs, commitsDir, lease, writerId, epoch + 1)
        readLease(fs, lease) match {
          case Some((o, e)) if o == writerId => e
          case Some((o, _)) => throw new IllegalStateException(
            s"$what: lost the fence race to writer '$o' (this writer is " +
              s"'$writerId')")
          case None => throw new IllegalStateException(
            s"$what: lease vanished mid-fence — is releaseLease racing?")
        }
      case None =>
        writeLease(fs, commitsDir, lease, writerId, 0L, replace = false)
        readLease(fs, lease) match {
          case Some((o, e)) if o == writerId => e
          case Some((o, _)) => throw new IllegalStateException(
            s"$what: lost the lease race to writer '$o' (this writer is " +
              s"'$writerId')")
          case None => throw new IllegalStateException(
            s"$what: lease vanished mid-acquire — is releaseLease racing?")
        }
    }
  }

  private def writeLease(fs: FileSystem, commitsDir: Path, lease: Path,
      writerId: String, epoch: Long, replace: Boolean = true): Unit = {
    fs.mkdirs(commitsDir)
    // a lost race leaves the winner's lease: the caller re-reads it
    Publish.writeFile(fs,
      new Path(commitsDir, s".writer.${java.util.UUID.randomUUID()}.tmp"),
      lease, s"$writerId\n$epoch\n".getBytes("UTF-8"), replace)
  }

  /** Commit-point fence check: the caller (holding `epoch` from its
    * [[acquireLease]]) is still the lease's owner at the SAME epoch.
    * Called immediately before the irreversible protocol step (commit
    * marker / version manifest), so a writer fenced mid-protocol
    * refuses to publish instead of interleaving with its successor.
    * One tiny read per batch commit.
    */
  def assertLease(fs: FileSystem, commitsDir: Path, writerId: String,
      epoch: Long, what: String): Unit =
    readLease(fs, new Path(commitsDir, "writer")) match {
      case Some((o, e)) if o == writerId && e == epoch => ()
      case Some((o, e)) => throw new IllegalStateException(
        s"$what: FENCED — lease now held by '$o' at epoch $e (this writer " +
          s"is '$writerId' at epoch $epoch). Refusing to publish: a fenced " +
          "writer's interleaved commits would corrupt derived state.")
      case None => throw new IllegalStateException(
        s"$what: lease file missing at commit point (this writer is " +
          s"'$writerId' at epoch $epoch) — released while a protocol step " +
          "was in flight?")
    }

  /** Hand the index over: removes the writer lease so a NEW writer id
    * may acquire it. Only safe once the owning stream is stopped.
    */
  def releaseLease(fs: FileSystem, commitsDir: Path): Unit =
    fs.delete(new Path(commitsDir, "writer"), false)
}
