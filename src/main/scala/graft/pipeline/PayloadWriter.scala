package graft.pipeline

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}

/** Task-local carved-payload store: writes the streamed carve bytes to
  * `root/relPath` (the reference writes carved files as its primary
  * output; at cluster scale `root` is a shared/object store mount).
  * Handlers stream one file at a time per task, under the record's final
  * path, so a single open stream suffices: the first block of a carve
  * truncates and opens its file, later blocks append, and [[close]] ends
  * the carve — the pipeline closes before every hit, so each hit writes
  * a fresh file. Re-carves of the same path (task retries, duplicate
  * hits) rewrite it — idempotent because names are deterministic
  * functions of the byte range. Each type directory is created once per
  * writer, not once per carved file.
  */
final class PayloadWriter(root: String) {
  private var currentPath: String = _
  private var out: OutputStream = _
  private val madeDirs = scala.collection.mutable.HashSet.empty[Path]

  def sink(relPath: String, bytes: Array[Byte], len: Int): Unit = {
    if (relPath != currentPath) {
      close()
      val full = Paths.get(root, relPath)
      if (madeDirs.add(full.getParent)) Files.createDirectories(full.getParent)
      out = new BufferedOutputStream(new FileOutputStream(full.toFile, false))
      currentPath = relPath
    }
    out.write(bytes, 0, len)
    // no per-write flush: the buffered stream batches carve blocks, and
    // rollover/close (incl. the pipeline's task-completion close) flush
    // the tail — a flush per block was a syscall per carve write
  }

  /** Delete the file the open carve streamed: a carve dropped after its
    * bytes were written (min_size, a failed walk) leaves no payload.
    */
  def discard(): Unit =
    if (out != null) {
      val path = Paths.get(root, currentPath)
      close()
      Files.deleteIfExists(path)
    }

  def close(): Unit = {
    if (out != null) { out.close(); out = null; currentPath = null }
  }
}
