package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The publication protocol: every rewrite this engine makes visible to
  * readers goes through one of the steps below, and nothing else in the
  * library renames a file or directory (except [[TableWriter.compact]]'s
  * log-guarded unveil, whose redo finishes deletes, not a rollback).
  *
  * Directory swap (RETAINING): the new generation is written to a stage
  * dir, then `rename(live → trash); rename(stage → live); delete(trash)`.
  * Trash names are underscore-prefixed and '='-free ([[trashOf]]), so
  * partition discovery never lists them and readers never see two
  * generations of a dir. A crash between the renames leaves the prior
  * generation under the trash name, and readers find `live` missing
  * until [[recover]] — run on entry by the next writer of that dir —
  * deletes the trash if `live` exists and renames it back otherwise.
  *
  * Partitioned swap ([[swapPartitions]]): the directory swap applied to
  * each staged partition dir in turn; touched partitions with no staged
  * dir (every row deleted) are dropped, and the stage is always deleted.
  * Each partition flips atomically, so a crash mid-swap leaves some
  * partitions new and the rest old. Their trash is recovered at the
  * start of the next swap into the same root.
  *
  * Small-file publish: write a tmp file next to the target, then rename
  * it in. Local and HDFS rename does not replace a file, so the
  * REPLACING form ([[writeLinesAtomic]]) deletes the old file first and
  * leaves no file between that delete and the rename; callers treat a
  * missing protocol file conservatively. The IF-ABSENT form
  * ([[writeFile]]) lets rename-no-replace decide a race and deletes the
  * loser's tmp. [[overwriteFile]] replaces atomically through FileContext.
  *
  * Manifest-guarded file move ([[moveStagedIn]]): the destination of
  * every file is written to a manifest before the first rename, so
  * [[redoFromManifest]] removes exactly what a crashed attempt moved in.
  */
private[graft] object Publish {

  private val swapHook = new scala.util.DynamicVariable[Path => Unit](_ => ())

  /** Test-only crash injector: `hook` runs inside every [[swapIn]] made
    * by `body` (on its thread and threads it starts), after the live dir
    * has moved to trash and before the staged dir moves in, with the
    * live path as its argument.
    */
  def withSwapHook[T](hook: Path => Unit)(body: => T): T =
    swapHook.withValue(hook)(body)

  /** `_trash_<name of live, '=' replaced>`, next to `live`. */
  def trashOf(live: Path): Path =
    new Path(live.getParent, "_trash_" + live.getName.replace("=", "_"))

  private def renameOrFail(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"Publish: rename $src -> $dst failed")

  /** Retaining swap of `staged` into `live` through `trash`. The caller
    * runs [[recover]] (or [[recoverPartitions]]) on `live` first.
    */
  def swapIn(fs: FileSystem, staged: Path, live: Path, trash: Path): Unit = {
    if (fs.exists(live)) {
      renameOrFail(fs, live, trash)
      swapHook.value(live)
    }
    renameOrFail(fs, staged, live)
    fs.delete(trash, true)
  }

  /** Undo or finish a crashed [[swapIn]] (no-op without trash). */
  def recover(fs: FileSystem, live: Path, trash: Path): Unit =
    if (fs.exists(trash)) undo(fs, live, trash)

  private def undo(fs: FileSystem, live: Path, trash: Path): Unit =
    if (fs.exists(live)) fs.delete(trash, true)
    else renameOrFail(fs, trash, live)

  /** [[recover]] every `<prefix><id>` dir of the existing `root`. */
  def recoverPartitions(fs: FileSystem, root: Path, prefix: String): Unit = {
    val trashPrefix = trashOf(new Path(root, prefix)).getName
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(trashPrefix))
      .foreach(t => undo(fs, new Path(root, prefix + t.getName.stripPrefix(trashPrefix)), t))
  }

  /** Partitioned stage → swap → drop emptied → delete the stage.
    * `stageWrite` writes the `<prefix><id>` dirs under `stage` and
    * returns the ids it touched, or None to publish nothing. Touched ids
    * with no staged dir are deleted from `root`. Returns the ids whose
    * live dir was replaced or dropped (None when nothing was published).
    */
  def swapPartitions(fs: FileSystem, stage: Path, root: Path, prefix: String)(
      stageWrite: => Option[Iterable[String]]): Option[Set[String]] =
    try stageWrite.map { touched =>
      recoverPartitions(fs, root, prefix)
      val swapped = fs.listStatus(stage)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath).map { d =>
          val live = new Path(root, d.getName)
          swapIn(fs, d, live, trashOf(live))
          d.getName.stripPrefix(prefix)
        }.toSet
      touched.filterNot(swapped).foreach(id =>
        fs.delete(new Path(root, prefix + id), true))
      swapped ++ touched
    } finally fs.delete(stage, true)

  /** Small-file publish of `bytes` at `p` through `tmp`. `replace`
    * deletes an existing `p` first; otherwise rename-no-replace decides.
    * Returns whether the rename landed; a tmp that lost is deleted.
    */
  def writeFile(fs: FileSystem, tmp: Path, p: Path, bytes: Array[Byte],
      replace: Boolean): Boolean = {
    writeTmp(fs, tmp, bytes)
    if (replace && fs.exists(p)) fs.delete(p, false)
    renameIfAbsent(fs, tmp, p)
  }

  private def writeTmp(fs: FileSystem, tmp: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
  }

  /** Rename `src` to an absent `dst`; when the rename fails (`dst`
    * exists) `src` is deleted and false returned.
    */
  def renameIfAbsent(fs: FileSystem, src: Path, dst: Path): Boolean =
    fs.rename(src, dst) || { fs.delete(src, true); false }

  /** Replacing small-file publish of `lines` (newline-terminated) at `p`,
    * through the dot-tmp `.<name>.tmp` in the same directory.
    */
  def writeLinesAtomic(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    fs.mkdirs(p.getParent)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (!writeFile(fs, tmp, p, lines.mkString("", "\n", "\n").getBytes("UTF-8"),
        replace = true))
      throw new java.io.IOException(s"writeLinesAtomic: rename $tmp -> $p failed")
  }

  /** Replace `p` with `bytes` through `tmp` by an ATOMIC replacing rename
    * (FileContext + Options.Rename.OVERWRITE), for a file whose absence
    * readers would misread: a delete-then-rename pair opens a crash
    * window with NO file at all. Supported on local/HDFS; an object-store
    * deployment would use a conditional put here.
    */
  def overwriteFile(fs: FileSystem, tmp: Path, p: Path, bytes: Array[Byte]): Unit = {
    writeTmp(fs, tmp, bytes)
    FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(fs.makeQualified(tmp), fs.makeQualified(p), Options.Rename.OVERWRITE)
  }

  /** Redo a crashed attempt's file moves: delete exactly the destination
    * paths the attempt's staged-file manifest planned (renames only ever
    * happen after the manifest is written, so the manifest covers every
    * file a crashed attempt can have moved in). O(batch), not
    * O(buckets): no bucket directory is listed.
    */
  def redoFromManifest(fs: FileSystem, manifest: Path): Unit =
    if (fs.exists(manifest))
      graft.operators.IndexProtocol.readLines(fs, manifest).filter(_.nonEmpty)
        .foreach(f => fs.delete(new Path(f), false))

  /** Move a staged partitioned write into the live layout under
    * deterministic `b<batchId>-<i>` names, guarded by the staged-file
    * manifest: plan the (src, dst) moves, write the manifest atomically,
    * then rename. A crash at any point replays convergently — before
    * the manifest nothing has moved; after it, [[redoFromManifest]]
    * removes whatever subset landed. Returns the destination paths.
    */
  def moveStagedIn(fs: FileSystem, stage: Path, liveRoot: Path,
      partitionPrefix: String, batchPrefix: String,
      manifest: Path): Seq[Path] = {
    // name-sorted listings: listStatus order is filesystem-dependent,
    // and the b<id>-<i> names should not permute across replay attempts
    val moves: Seq[(Path, Path)] =
      fs.listStatus(stage).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(partitionPrefix))
        .sortBy(_.getPath.getName)
        .flatMap { d =>
          val dst = new Path(liveRoot, d.getPath.getName)
          fs.listStatus(d.getPath).toSeq.filter(_.isFile)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .sortBy(_.getPath.getName)
            .zipWithIndex.map { case (f, i) =>
              (f.getPath, new Path(dst, s"$batchPrefix$i.parquet"))
            }
        }
    writeLinesAtomic(fs, manifest, moves.map(_._2.toString))
    moves.foreach { case (src, dst) =>
      fs.mkdirs(dst.getParent)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"moveStagedIn: rename $src -> $dst failed (a file at the " +
            "destination can only be a crashed attempt's — the manifest " +
            "redo should have removed it)")
    }
    fs.delete(stage, true)
    moves.map(_._2)
  }
}
