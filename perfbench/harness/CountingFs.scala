package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local filesystem with per-call counters for one directory tree: the
  * traced run binds it to `fs.file.impl`, so manifest reads, listings and
  * file opens the store makes under its table directory are counted (the
  * stock local filesystem counts bytes but no operations). */
final class CountingRawFs extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.hit(f, CountingFs.reads); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.hit(f, CountingFs.reads); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.hit(f, CountingFs.lists); super.listStatus(f)
  }
}

final class CountingLocalFs extends LocalFileSystem(new CountingRawFs)

object CountingFs {
  @volatile var root: String = "\u0000"
  val reads = new AtomicLong()
  val lists = new AtomicLong()

  def hit(f: Path, c: AtomicLong): Unit =
    if (f.toUri.getPath.startsWith(root)) c.incrementAndGet()
}
