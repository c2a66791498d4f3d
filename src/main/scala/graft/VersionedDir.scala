package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, UnsupportedFileSystemException}

/** A directory of immutable state versions behind a `_CURRENT` pointer —
  * the one publish/read/GC path of every pointer-swapped state dir (the
  * batch visitantes table, the streaming CDC / Count-Min / preference
  * state). On Hadoop `FileSystem`, so a `file:` or HDFS root works like a
  * plain local path.
  *
  * The writer fills `path(id)` completely, then [[publish]]es it; readers
  * resolve [[current]] and never see a half-written version. Single
  * writer; a reader must consume a frame it resolved within `Keep - 1`
  * later publishes.
  *
  * `pattern` formats an id into its dir name (`v%06d`, `v=%d`). A listed
  * name counts as a version only if it is the text before `%` followed by
  * digits, so foreign entries in the dir are ignored.
  */
final class VersionedDir(root: String, pattern: String, conf: Configuration) {
  private val dir = new Path(root)
  private val fs = dir.getFileSystem(conf)
  private val pointer = new Path(dir, "_CURRENT")
  private val prefix = pattern.takeWhile(_ != '%')

  def path(id: Long): String = s"$root/${pattern.format(id)}"

  private def parse(name: String): Option[Long] =
    Some(name.stripPrefix(prefix))
      .filter(d => name.startsWith(prefix) && d.nonEmpty && d.forall(_.isDigit))
      .flatMap(_.toLongOption)

  /** Ids of every version dir present, published or not. */
  private def ids: Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(s => parse(s.getPath.getName))

  /** The published version, if any. Where [[publish]] degrades to
    * delete+rename a reader can land in the no-pointer window, so a missing
    * pointer is probed once more after 50 ms — only when a version dir
    * exists, i.e. when a publish could be in flight.
    */
  def current: Option[Long] = {
    val present = fs.exists(pointer) ||
      (ids.nonEmpty && { Thread.sleep(50); fs.exists(pointer) })
    if (!present) None
    else {
      val in = fs.open(pointer)
      val name = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      Some(parse(name).getOrElse(
        throw new IllegalStateException(s"$pointer names no version of $root: '$name'")))
    }
  }

  /** The newest version strictly older than `id`, published or not — what a
    * replayed streaming batch `id` rebuilds from (a crashed attempt of the
    * same batch may already have written or published `id` itself).
    */
  def latestBelow(id: Long): Option[Long] = ids.filter(_ < id).maxOption

  /** Make the fully written `path(id)` current, then keep the newest
    * [[VersionedDir.Keep]] versions plus the published one (newer
    * unpublished dirs, left by a crash between write and publish, may
    * outrank it). The pointer goes to `_CURRENT.tmp` and is swapped in by
    * `FileContext.rename(OVERWRITE)`: one atomic step on HDFS-like and
    * local stores, and it throws rather than returning false. Stores with
    * no FileContext binding (s3a by default) fall back to delete + checked
    * rename; their rename is a copy anyway.
    */
  def publish(id: Long): Unit = {
    val target = new Path(path(id))
    if (!fs.exists(target))
      throw new IllegalStateException(s"publish: $target was never written")
    val tmp = fs.makeQualified(new Path(dir, "_CURRENT.tmp"))
    val cur = fs.makeQualified(pointer)
    val out = fs.create(tmp, true)
    try out.write(pattern.format(id).getBytes("UTF-8")) finally out.close()
    def fallbackSwap(): Unit = {
      if (fs.exists(cur)) fs.delete(cur, false)
      VersionedDir.rename(fs, tmp, cur)
    }
    // a cached probe can go stale if another Configuration in this JVM
    // loses the binding: degrade to the fallback, don't fail after the write
    if (VersionedDir.supportsFileContext(cur, conf))
      try FileContext.getFileContext(cur.toUri, conf).rename(tmp, cur, Options.Rename.OVERWRITE)
      catch { case _: UnsupportedFileSystemException => fallbackSwap() }
    else fallbackSwap()
    ids.sorted.dropRight(VersionedDir.Keep).filterNot(_ == id)
      .foreach(v => fs.delete(new Path(path(v)), true))
  }
}

object VersionedDir {

  /** Versions retained per dir: the published one and two prior. */
  val Keep = 3

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Whether `p`'s store serves FileContext, probed once per (scheme,
    * authority) so a store without one does not pay a thrown exception on
    * every publish.
    */
  private val fileContextSupport =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private def supportsFileContext(p: Path, conf: Configuration): Boolean = {
    val uri = p.toUri
    fileContextSupport.computeIfAbsent(
      s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}",
      _ => try { FileContext.getFileContext(uri, conf); true }
      catch { case _: UnsupportedFileSystemException => false })
  }

  private def aside(dir: Path, tag: String) =
    new Path(dir.getParent, s"${dir.getName}.compact.$tag")

  /** Rename-aside replacement of a whole directory, step 1: repair an
    * interrupted earlier swap of `dir` and return the empty tmp dir the
    * replacement is to be written into. Every crash state is repaired from
    * the sibling dirs alone:
    *  - live dir absent, tmp present: died between the two renames of
    *    [[swapAside]] and tmp holds the complete rewrite — roll forward;
    *  - live dir absent, only old present: roll back;
    *  - live dir present: a leftover tmp (partial rewrite) or old
    *    (interrupted post-swap delete) is garbage.
    */
  def recoverAside(fs: FileSystem, dir: Path): Path = {
    val (tmp, old) = (aside(dir, "tmp"), aside(dir, "old"))
    if (!fs.exists(dir)) {
      if (fs.exists(tmp)) rename(fs, tmp, dir)
      else if (fs.exists(old)) rename(fs, old, dir)
    }
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    tmp
  }

  /** Step 2: swap the complete rewrite in the tmp dir in place of `dir`
    * (live → old, tmp → live, drop old). The live dir is absent only
    * between the two renames. Each rename targets a path step 1 cleared,
    * so a checked FileSystem.rename suffices.
    */
  def swapAside(fs: FileSystem, dir: Path): Unit = {
    val old = aside(dir, "old")
    rename(fs, dir, old)
    rename(fs, aside(dir, "tmp"), dir)
    fs.delete(old, true)
  }
}

/** The committed-batch marker of an at-least-once batch sink:
  * `<dir>/_committed/batch-<id>` (underscore-prefixed, so parquet listings
  * of `dir` skip it). `foreachBatch` runs a micro-batch again when it
  * crashed before its commit-log entry, so every guarded sink follows one
  * replay protocol, in order:
  *
  *  1. Gate against the index EXCLUDING this batch's own ids: a crashed
  *     attempt may already have appended them, and self-filtering on
  *     replay is the silent-loss bug. Exclusion makes the recomputed
  *     survivor set identical on every attempt.
  *  2. Write the batch's output to the batch-scoped `outDir/batch=<id>`
  *     with OVERWRITE, so a replay rewrites the same rows instead of
  *     appending duplicates.
  *  3. Run the non-idempotent step (the index append) through [[once]]: a
  *     replay that finds the marker skips it. A crash between the step and
  *     the marker runs the step again — duplicate index rows, harmless
  *     because every index lookup is distinct or semi-join based, and the
  *     gate result stays exact through step 1.
  *
  * The dedup, semantic and media gates follow all three steps; the SCD
  * stream guards its whole batch with step 3 alone. Spark replays only the
  * batch whose commit-log entry is missing, so markers below `id − 2` are
  * dropped when a marker is written, and a name that is not `batch-<digits>`
  * (a partial create, a foreign file) is skipped. The markers belong to one
  * stream checkpoint: an index rebuild calls [[clear]], since a fresh
  * checkpoint restarts batch ids at 0 and a stale marker would skip its step.
  */
object CommittedBatches {
  private val Prefix = "batch-"

  private def markers(dir: String) = new Path(dir, "_committed")

  /** Run `step` unless batch `batchId` already committed it under `dir`,
    * then write the batch's marker and drop the markers below `batchId − 2`.
    */
  def once(dir: String, batchId: Long, conf: Configuration)(step: => Unit): Unit = {
    val root = markers(dir)
    val fs = root.getFileSystem(conf)
    val marker = new Path(root, s"$Prefix$batchId")
    if (!fs.exists(marker)) {
      step
      fs.mkdirs(marker)
      fs.listStatus(root).map(_.getPath.getName)
        .collect { case n if n.startsWith(Prefix) => n.stripPrefix(Prefix) }
        .flatMap(_.toLongOption)
        .filter(_ < batchId - 2)
        .foreach(v => fs.delete(new Path(root, s"$Prefix$v"), true))
    }
  }

  /** Drop every marker under `dir` (an index rebuild). */
  def clear(dir: String, conf: Configuration): Unit = {
    val root = markers(dir)
    root.getFileSystem(conf).delete(root, true)
  }
}
