package graft.core

import java.io.{BufferedOutputStream, File, IOException, OutputStream}
import java.nio.file.{FileVisitResult, Files, LinkOption, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}

/** The file operations of the graft-owned writers (the convert's
  * [[graft.spark.PcapColumnarWrite]], the frame-index sidecar and the
  * convert manifest): reset a directory, create a file, commit a temp
  * file to its final name, delete.
  *
  * Two arms, chosen by the path's FileSystem:
  *   - Hadoop's local FileSystem (`file:`) goes through java.nio. Without
  *     libhadoop, `LocalFileSystem` sets every created file's and
  *     directory's mode by starting a `chmod` child process, and its
  *     checksummed create writes (and chmods) a `.crc` sidecar per file:
  *     an 8-part `--multi-file` convert started 19 `chmod` processes.
  *     Local outputs therefore carry no `.crc` files, and their modes
  *     follow the process umask (0644 under the usual 022).
  *   - Every other scheme keeps Hadoop's calls.
  */
private[graft] sealed abstract class OutputFiles {

  /** Delete `dir` and everything under it, then create it empty. */
  def resetDir(dir: Path): Unit

  /** `file` as a parquet-mr [[OutputFile]], its missing parent
    * directories made. */
  def parquetFile(file: Path): OutputFile

  /** A buffered stream that creates or truncates `file`, making its
    * missing parent directories. */
  def create(file: Path): OutputStream

  /** An empty `file` (the `_SUCCESS` marker). */
  def touch(file: Path): Unit = create(file).close()

  /** Delete the file `file`; a missing file is not an error. */
  def delete(file: Path): Unit

  /** Move the finished `tmp` onto `file`, replacing whatever is there;
    * when the move fails, `tmp` is deleted and an IOException thrown.
    */
  def replace(tmp: Path, file: Path): Unit

  /** [[replace]] for one task's part file, where an occupant of `file`
    * can only be a concurrent attempt of the same partition. The local
    * rename replaces it; the Hadoop arm keeps the occupant when its
    * length matches (an identical twin) and fails otherwise.
    */
  def commit(tmp: Path, file: Path): Unit = replace(tmp, file)

  protected final def quietly(body: => Unit): Unit =
    try body catch { case scala.util.control.NonFatal(_) => () }
}

private[graft] object OutputFiles {

  /** The arm for `p`'s FileSystem under `conf`. */
  def apply(p: Path, conf: Configuration): OutputFiles = {
    val fs = p.getFileSystem(conf)
    fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem if fs.getUri.getScheme == "file" =>
        new Local(fs)
      case _ => new Hadoop(fs, conf)
    }
  }

  private final class Local(fs: FileSystem) extends OutputFiles {
    private def nio(p: Path): java.nio.file.Path =
      new File(fs.makeQualified(p).toUri.getPath).toPath

    def resetDir(dir: Path): Unit = {
      val root = nio(dir)
      // walkFileTree, not Spark's JavaUtils.deleteRecursively, which runs
      // `rm -rf` in a child process for directories; links are deleted,
      // never followed
      if (Files.exists(root, LinkOption.NOFOLLOW_LINKS))
        Files.walkFileTree(root, new SimpleFileVisitor[java.nio.file.Path] {
          override def visitFile(f: java.nio.file.Path,
              attrs: BasicFileAttributes): FileVisitResult = {
            Files.delete(f)
            FileVisitResult.CONTINUE
          }
          override def postVisitDirectory(d: java.nio.file.Path,
              e: IOException): FileVisitResult = {
            if (e != null) throw e
            Files.delete(d)
            FileVisitResult.CONTINUE
          }
        })
      Files.createDirectories(root)
      ()
    }

    /** `file`, its missing parent directories made, as Hadoop's create
      * makes them. */
    private def withParent(file: Path): java.nio.file.Path = {
      val f = nio(file)
      Files.createDirectories(f.getParent)
      f
    }

    def parquetFile(file: Path): OutputFile = new LocalOutputFile(withParent(file))

    def create(file: Path): OutputStream =
      new BufferedOutputStream(Files.newOutputStream(withParent(file)), 1 << 16)

    def delete(file: Path): Unit = { Files.deleteIfExists(nio(file)); () }

    def replace(tmp: Path, file: Path): Unit = {
      val dst = nio(file)
      try Files.move(nio(tmp), dst, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: IOException => quietly(delete(tmp)); throw e }
      // a checksum left by an earlier Hadoop write of `file` would fail
      // Hadoop's local reads of the new bytes
      Files.deleteIfExists(dst.resolveSibling(s".${dst.getFileName}.crc"))
      ()
    }
  }

  private final class Hadoop(fs: FileSystem, conf: Configuration) extends OutputFiles {
    def resetDir(dir: Path): Unit = {
      if (fs.exists(dir)) fs.delete(dir, true)
      fs.mkdirs(dir)
      ()
    }

    def parquetFile(file: Path): OutputFile = HadoopOutputFile.fromPath(file, conf)

    def create(file: Path): OutputStream = fs.create(file, true)

    def delete(file: Path): Unit = { fs.delete(file, false); () }

    def replace(tmp: Path, file: Path): Unit =
      if (!fs.rename(tmp, file)) {
        // a FileSystem may refuse a rename onto an existing destination
        fs.delete(file, false)
        if (!fs.rename(tmp, file)) {
          quietly(delete(tmp))
          throw new IOException(s"OutputFiles: rename $tmp -> $file failed")
        }
      }

    override def commit(tmp: Path, file: Path): Unit =
      if (!fs.rename(tmp, file)) {
        if (!fs.exists(file)) {
          quietly(delete(tmp))
          throw new IOException(s"OutputFiles: commit rename $tmp -> $file failed")
        }
        // lost the race to a concurrent successful attempt of the same
        // partition. Its bytes are identical only because the writer
        // resets the directory before launching tasks; check the length
        // so a caller reusing a dirty directory fails loudly instead of
        // keeping stale data
        val kept = fs.getFileStatus(file).getLen
        val ours = fs.getFileStatus(tmp).getLen
        quietly(delete(tmp))
        if (kept != ours)
          throw new IOException(
            s"OutputFiles: $file already exists with ${kept}B but this " +
              s"attempt wrote ${ours}B; the occupant is not a twin of this " +
              "partition (directory reused without a reset?)")
      }
  }
}
