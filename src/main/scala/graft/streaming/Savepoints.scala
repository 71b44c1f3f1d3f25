package graft.streaming

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path,
  Paths, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

/** Savepoint manager — the reference's stop-with-savepoint / restore flow
  * (`JobStandaloneServerAOImpl.java:88-158`, `CommandUtil.java:117-137`)
  * restated for Structured Streaming: a "savepoint" is a snapshot of the
  * query's checkpointLocation taken while the query is stopped; restore
  * starts the (same-plan) query pointing at a copy of the snapshot.
  * Mirrors the reference's `savepoint_backup` registry with an on-disk
  * layout `<root>/<name>/sp-<n>`.
  *
  * Same-plan restriction applies exactly as in the platform's own use
  * (restart the same SQL job): Spark checkpoints are not relocatable
  * across plan changes (SURVEY §7.4).
  */
object Savepoints {

  private def index(name: String): Option[Int] =
    if (name.startsWith("sp-")) name.stripPrefix("sp-").toIntOption else None

  /** Snapshot a stopped query's checkpoint dir; returns the savepoint
    * path. Numbered max-existing-index + 1 so pruning old savepoints can
    * never make a new snapshot collide with (and corrupt) a survivor.
    */
  def snapshot(checkpointDir: String, root: String, name: String): String = {
    val src = Paths.get(checkpointDir)
    require(Files.isDirectory(src), s"no checkpoint at $checkpointDir")
    val base = Paths.get(root, name)
    Files.createDirectories(base)
    val n = Option(base.toFile.list()).map(
      _.flatMap(index).foldLeft(-1)(math.max) + 1).getOrElse(0)
    val dst = base.resolve(s"sp-$n")
    copyTree(src, dst)
    dst.toString
  }

  /** Materialize a savepoint as a fresh checkpoint dir to restart from.
    * (Copying keeps the savepoint immutable — the restarted query mutates
    * its own checkpoint, like Flink's restore-from-savepoint.)
    */
  def restore(savepointPath: String, newCheckpointDir: String): String = {
    val src = Paths.get(savepointPath)
    require(Files.isDirectory(src), s"no savepoint at $savepointPath")
    val dst = Paths.get(newCheckpointDir)
    if (Files.exists(dst))
      Files.walkFileTree(dst, new TolerantWalk(_ => (),
        Files.deleteIfExists(_), Files.deleteIfExists(_)))
    copyTree(src, dst)
    newCheckpointDir
  }

  /** List savepoints for a job name in numeric order, newest last
    * (lexical order would put sp-10 before sp-2).
    */
  def list(root: String, name: String): Seq[String] = {
    val base = Paths.get(root, name)
    if (!Files.isDirectory(base)) Nil
    else base.toFile.list().flatMap(index).sorted
      .map(n => base.resolve(s"sp-$n").toString).toSeq
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    def target(p: Path) = dst.resolve(src.relativize(p).toString)
    Files.walkFileTree(src, new TolerantWalk(
      d => Files.createDirectories(target(d)),
      f => Files.copy(f, target(f), StandardCopyOption.REPLACE_EXISTING),
      _ => ()))
  }

  /** Walks a tree that may change under it. A live-checkpoint snapshot
    * (auto-savepoint of a RUNNING job) races Spark's own writers: state
    * compaction and temp-file renames delete files and directories
    * between the walk listing an entry and visiting or copying it. Such
    * an entry is skipped; Spark's commit protocol keeps the snapshot
    * usable (uncommitted batch files are ignored on restore).
    */
  private final class TolerantWalk(onDir: Path => Unit, onFile: Path => Unit,
      afterDir: Path => Unit) extends SimpleFileVisitor[Path] {
    private def vanished(e: IOException) = e.isInstanceOf[NoSuchFileException]

    override def preVisitDirectory(d: Path,
        a: BasicFileAttributes): FileVisitResult = {
      onDir(d); FileVisitResult.CONTINUE
    }
    override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
      try onFile(f) catch { case _: NoSuchFileException => () }
      FileVisitResult.CONTINUE
    }
    override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
      if (vanished(e)) FileVisitResult.CONTINUE else throw e
    override def postVisitDirectory(d: Path,
        e: IOException): FileVisitResult = {
      if (e != null && !vanished(e)) throw e
      afterDir(d); FileVisitResult.CONTINUE
    }
  }
}
