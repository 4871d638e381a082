package graft.pipeline

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Task-local carved-payload store: appends the streamed carve bytes to
  * `root/relPath` (the reference writes carved files as its primary
  * output; at cluster scale `root` is a shared/object store mount).
  * Handlers stream one file at a time per task, so a single open stream
  * with path-change rollover suffices; re-carves of the same path (task
  * retries, duplicate hits) truncate and rewrite — idempotent because
  * names are deterministic functions of the byte range. Each type
  * directory is created once per writer, not once per carved file.
  */
final class PayloadWriter(root: String) {
  private var currentPath: String = _
  private var out: OutputStream = _
  private val madeDirs = scala.collection.mutable.HashSet.empty[Path]

  private def resolve(relPath: String): Path = {
    val full = Paths.get(root, relPath)
    if (madeDirs.add(full.getParent)) Files.createDirectories(full.getParent)
    full
  }

  def sink(relPath: String, bytes: Array[Byte], len: Int): Unit = {
    if (relPath != currentPath) {
      close()
      out = new BufferedOutputStream(new FileOutputStream(resolve(relPath).toFile, false))
      currentPath = relPath
    }
    out.write(bytes, 0, len)
    // no per-write flush: the buffered stream batches carve blocks, and
    // rollover/close (incl. the pipeline's task-completion close) flush
    // the tail — a flush per block was a syscall per carve write
  }

  /** Move a streamed payload to the path its carve was classified under
    * (zip→docx, ole→doc, ...); a no-op when the paths agree or nothing
    * was streamed.
    */
  def rename(fromRel: String, toRel: String): Unit =
    if (fromRel != toRel) {
      close()
      val from = Paths.get(root, fromRel)
      if (Files.exists(from))
        Files.move(from, resolve(toRel), StandardCopyOption.REPLACE_EXISTING)
    }

  def close(): Unit = {
    if (out != null) { out.close(); out = null; currentPath = null }
  }
}
