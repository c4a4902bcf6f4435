package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.operators.{MalformedShardException, Zip}

/** Shared plumbing for the streaming file sources
  * ([[GeoJsonZipSource]], [[WarcSource]], [[ZipShardSource]]).
  */
private[sources] object StreamUtil {

  /** Close `closeable` as soon as the iterator reports exhaustion
    * (idempotent — the task-completion backstop may close again).
    */
  def closeOnExhaustion[T](it: Iterator[T],
      closeable: java.io.Closeable): Iterator[T] = new Iterator[T] {
    private var closed = false
    override def hasNext: Boolean = {
      val h = it.hasNext
      if (!h && !closed) { closed = true; closeable.close() }
      h
    }
    override def next(): T = it.next()
  }

  /** Driver-side resolution of a path/glob/directory into files —
    * one driver RPC per load; the per-file bytes stay on executors.
    */
  def resolveFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)) match {
      case None | Some(Array()) =>
        throw new java.io.FileNotFoundException(path)
      case Some(arr) => arr.toSeq
    }
    matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile)
      else Seq(st)
    }.map(_.getPath.toString)
  }
}

/** [[Zip.ZipReader]] over one archive opened as a seekable Hadoop
  * stream; the caller closes it.
  */
private[sources] final class HadoopZipReader(conf: Configuration,
    path: String) extends Zip.ZipReader with java.io.Closeable {
  private val fsPath = new Path(path)
  private val fs = fsPath.getFileSystem(conf)
  val length: Long = fs.getFileStatus(fsPath).getLen
  private val stream = fs.open(fsPath)

  def readFully(at: Long, buf: Array[Byte], off: Int, n: Int): Unit = {
    if (at < 0L || at + n > length)
      throw new MalformedShardException(s"$path: read past the archive")
    stream.readFully(at, buf, off, n)
  }

  def close(): Unit = stream.close()
}
