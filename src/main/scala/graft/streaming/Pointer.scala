package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, StreamCapabilities}

/** The one commit protocol for the small pointer files that say what is
  * committed: the store's `state.txt`, `replseq.txt` and `buckets.txt`,
  * the replication pointers `replication.state.txt` and `last.state.txt`,
  * and a corpus release's `HEAD` — the analog of the reference's one
  * `last.state.txt`, written after the commit (update/cmd.go:369-384).
  *
  * [[replace]] writes `.<name>.tmp`, forces its bytes to disk and renames
  * it over the target; the rename is the commit. [[read]] only reads, so
  * a reader that runs during a commit (a release's readers follow `HEAD`
  * while the stream commits) can neither break the writer nor see no
  * pointer. A crash can stop a write at three points, and each reads
  * back safely:
  *  - while the tmp is written: the tmp is torn or cut short and the
  *    target is the previous pointer;
  *  - after the tmp is on disk, before the rename: the target is the
  *    previous pointer; where there is no target yet (a first write, or a
  *    file system that cannot rename over a file and had deleted it), a
  *    tmp that ends with its newline and parses is the newest pointer;
  *  - after the rename: the target is the new pointer.
  * So every pointer text is newline-terminated and its last line is the
  * one that makes it parse. A stale tmp is left for the next [[replace]],
  * whose create replaces it.
  */
private[streaming] object Pointer {

  private def tmpOf(path: Path): Path = new Path(path.getParent, s".${path.getName}.tmp")

  /** Hadoop's checksummed local stream does not implement `Syncable`, so
    * its `hsync` only flushes; the raw local stream's `hsync` syncs the
    * file descriptor, and the raw rename is rename(2), which replaces its
    * target atomically. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case l: LocalFileSystem => l.getRaw
    case other => other
  }

  private def text(fs: FileSystem, p: Path): String = {
    val in = raw(fs).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** Atomically replace the pointer at `path` with `text`, which ends with
    * a newline. Throws if the file system refuses the rename: a pointer
    * that silently stayed behind would validate the next batch against a
    * stale state. */
  def replace(fs: FileSystem, path: Path, text: String): Unit = {
    require(text.endsWith("\n"), s"pointer text for $path must end with a newline")
    val tmp = tmpOf(path)
    val out = raw(fs).create(tmp, true)
    try {
      out.write(text.getBytes(StandardCharsets.UTF_8))
      // the rename is atomic for the name, not for the bytes; an object
      // store has no hsync (its S3A stream throws) and shows no bytes
      // before close
      if (out.hasCapability(StreamCapabilities.HSYNC)) out.hsync()
    } finally out.close()
    // a checksum a checksummed write left beside the target would no
    // longer match it
    fs match {
      case l: LocalFileSystem => l.getRaw.delete(l.getChecksumFile(path), false)
      case _ =>
    }
    // a file system whose rename refuses an existing target (HDFS) needs
    // the target out of the way first
    if (!raw(fs).rename(tmp, path) && !(fs.delete(path, false) && raw(fs).rename(tmp, path)))
      throw new java.io.IOException(s"pointer rename refused: $tmp -> $path")
  }

  /** The pointer at `path` parsed by `parse`, or None when there is none.
    * A target that does not parse throws, naming the file. With no target,
    * a completed tmp (newline-terminated, parses) is the pointer. */
  def read[T](fs: FileSystem, path: Path)(parse: String => T): Option[T] =
    if (fs.exists(path)) {
      val t = text(fs, path)
      try Some(parse(t)) catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(s"$path: unreadable pointer: ${e.getMessage}", e)
      }
    } else {
      // the tmp may be renamed away under this read: then it read as before the commit
      scala.util.Try(text(fs, tmpOf(path))).toOption.filter(_.endsWith("\n"))
        .flatMap(t => scala.util.Try(parse(t)).toOption)
    }
}
