package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Publish

/** Generated crash-point coverage of every [[Publish]] primitive, on the
  * local filesystem without Spark. A clean run counts the primitive's
  * mutating FS steps (create, rename, delete, mkdirs); then, for every
  * k up to that count, the operation runs on a filesystem that dies
  * right after its k-th step (that step takes effect, it and every later
  * call throw — `finally` blocks included, as in a killed process). After
  * each crash the entry-time recovery runs, and the spec asserts what a
  * reader sees and that the next successful call leaves no stage, trash
  * or tmp behind.
  */
class PublishStepMatrixSpec extends AnyFunSuite {

  private final class Crash extends RuntimeException("crash")

  /** Local FS that dies after its `crashAfter`-th mutating call. */
  private final class CrashingFs(crashAfter: Int)
      extends FilterFileSystem(new RawLocalFileSystem) {
    var steps = 0
    private var dead = false
    private def alive(): Unit = if (dead) throw new Crash
    private def step[T](op: => T): T = {
      alive()
      val r = op
      steps += 1
      if (steps == crashAfter) {
        dead = true
        r match { case c: java.io.Closeable => c.close(); case _ => () }
        throw new Crash
      }
      r
    }
    override def getFileStatus(f: Path) = { alive(); super.getFileStatus(f) }
    override def listStatus(f: Path) = { alive(); super.listStatus(f) }
    override def open(f: Path, bufferSize: Int) = { alive(); super.open(f, bufferSize) }
    override def create(f: Path, permission: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable) =
      step(super.create(f, permission, overwrite, bufferSize, replication,
        blockSize, progress))
    override def rename(src: Path, dst: Path) = step(super.rename(src, dst))
    override def delete(f: Path, recursive: Boolean) = step(super.delete(f, recursive))
    override def mkdirs(f: Path, permission: FsPermission) =
      step(super.mkdirs(f, permission))
    override def mkdirs(f: Path) = step(super.mkdirs(f))
  }

  private def crashingFs(crashAfter: Int): CrashingFs = {
    val fs = new CrashingFs(crashAfter)
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private val cleanFs: FileSystem = crashingFs(Int.MaxValue)

  private def write(p: Path, s: String): Unit = {
    val out = cleanFs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }
  private def read(p: Path): Option[String] =
    if (!cleanFs.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p.toUri.getPath)), UTF_8))
  /** Every name under `d`, recursively, relative to `d`. */
  private def names(d: Path): Set[String] = {
    val root = java.nio.file.Paths.get(d.toUri.getPath)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filterNot(_ == root)
        .map(p => root.relativize(p).toString).toSet
    } finally walk.close()
  }

  /** One primitive as its callers drive it. `call` is the whole
    * operation (entry recovery, stage write, publish) on the given FS;
    * `recover` is its entry-time recovery alone; `view` is what a reader
    * sees; `allowed` decides a post-crash view, `fresh` the view after
    * a clean call; `litter` names leftovers a successful call must not
    * leave.
    */
  private final case class Scenario(name: String,
      setup: Path => Unit,
      call: (FileSystem, Path) => Unit,
      recover: (FileSystem, Path) => Unit,
      view: Path => Any,
      allowed: (Path, Any) => Boolean,
      fresh: Any,
      litter: Path => Set[String])

  private def matrix(s: Scenario): Unit = {
    val probe = crashingFs(Int.MaxValue)
    val d0 = new Path(java.nio.file.Files.createTempDirectory("publish-steps").toString)
    s.setup(d0)
    s.call(probe, d0)
    val n = probe.steps
    assert(n > 0, s"${s.name}: clean run made no FS steps")
    assert(s.view(d0) == s.fresh, s"${s.name}: clean run")
    assert(s.litter(d0).isEmpty, s"${s.name}: clean run left ${s.litter(d0)}")
    for (k <- 1 to n) {
      val d = new Path(java.nio.file.Files.createTempDirectory("publish-steps").toString)
      s.setup(d)
      intercept[Crash](s.call(crashingFs(k), d))
      s.recover(cleanFs, d)
      val v = s.view(d)
      assert(s.allowed(d, v), s"${s.name}: crash after step $k/$n, reader sees $v")
      s.call(cleanFs, d)
      assert(s.view(d) == s.fresh, s"${s.name}: call after crash at step $k/$n")
      assert(s.litter(d).isEmpty,
        s"${s.name}: call after crash at step $k/$n left ${s.litter(d)}")
    }
  }

  private def trashOrTmp(d: Path): Set[String] =
    names(d).filter(n => n.split('/').exists(c =>
      c.startsWith("_trash_") || c == "stage" || c.endsWith(".tmp")))

  test("directory swap: every crash point leaves the old or the new dir") {
    def live(d: Path) = new Path(d, "live")
    def stage(d: Path) = new Path(d, "stage")
    matrix(Scenario("swapIn",
      setup = d => write(new Path(live(d), "f"), "old"),
      call = (fs, d) => {
        Publish.recover(fs, live(d), Publish.trashOf(live(d)))
        fs.delete(stage(d), true)
        val out = fs.create(new Path(stage(d), "f"), true)
        try out.write("new".getBytes(UTF_8)) finally out.close()
        Publish.swapIn(fs, stage(d), live(d), Publish.trashOf(live(d)))
      },
      recover = (fs, d) => Publish.recover(fs, live(d), Publish.trashOf(live(d))),
      view = d => read(new Path(live(d), "f")),
      allowed = (_, v) => v == Some("old") || v == Some("new"),
      fresh = Some("new"),
      litter = trashOrTmp))
  }

  test("partitioned swap: every crash point leaves each partition old or new, " +
      "emptied partitions dropped or intact") {
    def root(d: Path) = new Path(d, "root")
    def stage(d: Path) = new Path(d, "stage")
    def file(d: Path, i: Int) = new Path(root(d), s"p=$i/f")
    val ids = 0 to 2
    def olds = ids.map(i => Some(s"old$i"))
    // p=2 loses every row: staged nowhere, dropped by the swap
    def news = Seq(Some("new0"), Some("new1"), None)
    matrix(Scenario("swapPartitions",
      setup = d => ids.foreach(i => write(file(d, i), s"old$i")),
      call = (fs, d) => Publish.swapPartitions(fs, stage(d), root(d), "p=") {
        fs.delete(stage(d), true)
        Seq(0, 1).foreach { i =>
          val out = fs.create(new Path(stage(d), s"p=$i/f"), true)
          try out.write(s"new$i".getBytes(UTF_8)) finally out.close()
        }
        Some(ids.map(_.toString))
      },
      recover = (fs, d) => Publish.recoverPartitions(fs, root(d), "p="),
      view = d => ids.map(i => read(file(d, i))),
      allowed = (_, v) => ids.forall { i =>
        val got = v.asInstanceOf[Seq[Option[String]]](i)
        got == olds(i) || got == news(i)
      },
      fresh = news,
      litter = trashOrTmp))
  }

  test("replacing small-file publish: old, new, or absent with the complete " +
      "new content in its tmp (the documented delete-then-rename window)") {
    def p(d: Path) = new Path(d, "dir/state")
    def tmp(d: Path) = new Path(d, "dir/.state.tmp")
    matrix(Scenario("writeLinesAtomic",
      setup = d => write(p(d), "old\n"),
      call = (fs, d) => Publish.writeLinesAtomic(fs, p(d), Seq("new")),
      recover = (_, _) => (),
      view = d => read(p(d)),
      allowed = (d, v) => v == Some("old\n") || v == Some("new\n") ||
        (v == None && read(tmp(d)) == Some("new\n")),
      fresh = Some("new\n"),
      litter = trashOrTmp))
  }

  test("if-absent small-file publish: absent or new, never a partial file") {
    def p(d: Path) = new Path(d, "v_1")
    matrix(Scenario("writeFile(replace = false)",
      setup = _ => (),
      call = (fs, d) => assert(Publish.writeFile(fs, new Path(d, ".v_1.w.tmp"), p(d),
        "new".getBytes(UTF_8), replace = false)),
      recover = (_, _) => (),
      view = d => read(p(d)),
      allowed = (_, v) => v == None || v == Some("new"),
      fresh = Some("new"),
      litter = trashOrTmp))
  }

  test("atomic overwrite small-file publish: old or new") {
    def p(d: Path) = new Path(d, "_clone_manifest")
    matrix(Scenario("overwriteFile",
      setup = d => write(p(d), "old"),
      call = (fs, d) => Publish.overwriteFile(fs, new Path(d, "._clone_manifest_tmp"),
        p(d), "new".getBytes(UTF_8)),
      recover = (_, _) => (),
      view = d => read(p(d)),
      allowed = (_, v) => v == Some("old") || v == Some("new"),
      fresh = Some("new"),
      litter = d => names(d).filter(_.contains("_tmp"))))
  }

  test("manifest-guarded move: the redo rolls every crash point back to the " +
      "old files") {
    def root(d: Path) = new Path(d, "root")
    def stage(d: Path) = new Path(d, "stage")
    def manifest(d: Path) = new Path(d, "commits/staged_7")
    val staged = Seq("b=0/part-a.parquet", "b=0/part-b.parquet", "b=1/part-c.parquet")
    matrix(Scenario("moveStagedIn",
      setup = d => write(new Path(root(d), "b=0/part-old.parquet"), "old"),
      call = (fs, d) => {
        Publish.redoFromManifest(fs, manifest(d))
        fs.delete(stage(d), true)
        staged.foreach { n =>
          val out = fs.create(new Path(stage(d), n), true)
          try out.write(n.getBytes(UTF_8)) finally out.close()
        }
        Publish.moveStagedIn(fs, stage(d), root(d), "b=", "b7-", manifest(d))
      },
      recover = (fs, d) => Publish.redoFromManifest(fs, manifest(d)),
      view = d => names(root(d)).filter(_.endsWith(".parquet")),
      allowed = (_, v) => v == Set("b=0/part-old.parquet"),
      fresh = Set("b=0/part-old.parquet", "b=0/b7-0.parquet", "b=0/b7-1.parquet",
        "b=1/b7-0.parquet"),
      litter = trashOrTmp))
  }
}
