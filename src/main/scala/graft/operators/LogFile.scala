package graft.operators

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** The one way the engine publishes and reads its small metadata files:
  * manifests, pending manifests, transaction markers, tags, branch refs,
  * merge marks, checkpoints and materialized-view definitions.
  *
  * A write stages the file's bytes under a `.tmp-<uuid>` name in the
  * owning table's `_log/` — a name no reader matches, and the directory
  * whose `.tmp-` leftovers vacuum sweeps — then makes them appear at the
  * final name in ONE atomic step, so a reader sees either no file or all
  * of its bytes:
  *
  *   - [[publish]] creates the file only if the name is free. On the
  *     local filesystem that step is a hard link, which fails with EEXIST
  *     when the name exists — create-if-absent across processes, not only
  *     across threads. Elsewhere it is a rename, which HDFS refuses onto
  *     an existing destination; an object store would use a conditional
  *     PUT.
  *   - [[replace]] overwrites: POSIX rename over the target on the local
  *     filesystem; delete then rename where the store offers no atomic
  *     overwrite.
  *
  * On the local filesystem a published file carries no `.crc` sidecar
  * (Hadoop reads such a file unverified) and the staged name leaves none
  * behind. */
private[graft] object LogFile {

  /** `p` as a local path, when `f` is the local filesystem. */
  private def local(f: FileSystem, p: Path): Option[java.nio.file.Path] =
    if (f.getUri.getScheme == "file") Some(Paths.get(f.makeQualified(p).toUri))
    else None

  private def stage(f: FileSystem, log: Path, text: String): Path = {
    val tmp = new Path(log, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    tmp
  }

  /** Create `dst` holding `text` if no file has that name; false when
    * one does (it is then left untouched). `log` is the owning table's
    * `_log/` directory. */
  def publish(f: FileSystem, log: Path, dst: Path, text: String): Boolean = {
    val tmp = stage(f, log, text)
    local(f, dst) match {
      case Some(d) =>
        try { Files.createLink(d, local(f, tmp).get); true }
        catch { case _: FileAlreadyExistsException => false }
        finally f.delete(tmp, false)
      case None =>
        f.rename(tmp, dst) || {
          f.delete(tmp, false)
          if (!f.exists(dst)) throw new IOException(s"could not publish $dst")
          false
        }
    }
  }

  /** Make `dst` hold `text`, whether or not it exists. */
  def replace(f: FileSystem, log: Path, dst: Path, text: String): Unit = {
    val tmp = stage(f, log, text)
    local(f, dst) match {
      case Some(d) =>
        // the sidecar of an earlier checksummed write would fail the new
        // bytes' verification: it goes before the rename, the staged
        // name's after
        sidecar(f, dst).foreach(Files.deleteIfExists)
        Files.move(local(f, tmp).get, d, StandardCopyOption.ATOMIC_MOVE)
        sidecar(f, tmp).foreach(Files.deleteIfExists)
      case None =>
        f.delete(dst, false)
        if (!f.rename(tmp, dst)) {
          f.delete(tmp, false)
          throw new IOException(s"could not replace $dst")
        }
    }
  }

  private def sidecar(f: FileSystem, p: Path): Option[java.nio.file.Path] =
    f match {
      case c: ChecksumFileSystem => local(f, c.getChecksumFile(p))
      case _ => None
    }

  /** `p`'s text, or None when no such file exists. */
  def read(f: FileSystem, p: Path): Option[String] =
    opened(f, p)(in => new String(in.readAllBytes(), UTF_8))

  /** `walk` over `p`'s leading `#` header lines, read lazily — a walk
    * that stops early reads no further; None when no such file exists. */
  def header[A](f: FileSystem, p: Path)(walk: Iterator[String] => A)
      : Option[A] =
    opened(f, p) { in =>
      val br = new BufferedReader(new InputStreamReader(in, UTF_8))
      walk(Iterator.continually(br.readLine())
        .takeWhile(l => l != null && l.startsWith("#")))
    }

  private def opened[A](f: FileSystem, p: Path)(
      body: java.io.InputStream => A): Option[A] = {
    val in = try f.open(p) catch { case _: FileNotFoundException => return None }
    try Some(body(in)) finally in.close()
  }
}
