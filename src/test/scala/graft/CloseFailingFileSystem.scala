package graft

import java.io.{IOException, OutputStream}
import java.net.URI
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** The local file system under the `failclose` scheme, except that closing
  * a created file throws after the bytes reach disk: the shape of an
  * HDFS/S3 lease or quota error that surfaces only at close. Register it
  * with `fs.failclose.impl` on a copied Hadoop conf. */
class CloseFailingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failclose:///")
  override def getScheme: String = "failclose"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val real = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = real.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = real.write(b, off, len)
      override def close(): Unit = {
        real.close()
        throw new IOException(CloseFailingFileSystem.Message)
      }
    }, null)
  }
}

object CloseFailingFileSystem {
  val Message = "close failed (CloseFailingFileSystem)"
}
