package graft.core

import java.io.OutputStreamWriter
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}

/** Small whole UTF-8 text files on any Hadoop FS (local, HDFS, S3): the
  * manifest beside a persisted index and the tuner's run files. */
object TextFile {

  /** Create `p` holding `text`; with `overwrite = false` an existing `p`
    * makes the create throw. Every IO error reaches the caller, so a
    * returned write is a complete file:
    *   - a plain writer, not PrintWriter, which swallows IOExceptions into
    *     an error flag nobody reads (a failed close-time flush would look
    *     like a successful write);
    *   - close inside the try, so a close-time flush failure propagates;
    *   - when the write itself fails, the close on the same broken stream
    *     is best effort and its error is suppressed onto the write's, so
    *     it cannot mask the root cause. */
  def write(fs: FileSystem, p: Path, text: String, overwrite: Boolean): Unit = {
    val w = new OutputStreamWriter(fs.create(p, overwrite), UTF_8)
    try {
      w.write(text)
      w.close()
    } catch {
      case primary: Throwable =>
        try w.close() catch {
          case closeErr: Throwable if closeErr ne primary =>
            primary.addSuppressed(closeErr)
        }
        throw primary
    }
  }

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
