package graft.io

import java.io.{InputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Remote-object-store abstraction (reference: the Box SDK surface used at
  * box_ingest.py:39 `folder.get_items()`, :55 `download_to`, :81 `delete`,
  * box_export.py:54-62 list + `update_contents`/`upload`).
  *
  * The reference's "source" is a cloud folder of files; everything it does
  * with it is list / open / put-overwrite / delete. A local directory
  * implementation stands in for Box in this environment; an
  * implementation backed by any SDK slots in behind the same trait.
  */
trait ObjectStore {
  /** O1: enumerate objects (non-recursive), with name + modified time. */
  def list(folder: String): Seq[ObjectStat]
  def open(folder: String, name: String): InputStream
  /** O28: create-or-overwrite by name (the reference scans up to 1000
    * items for a name match, then update_contents-or-upload). */
  def putOverwrite(folder: String, name: String, write: OutputStream => Unit): Unit
  /** O24: post-ingest source cleanup. */
  def delete(folder: String, name: String): Unit
}

object ObjectStore {
  /** Dot-prefixed names are in-flight spool temps (see [[LocalStore]] /
    * [[HadoopStore]] `putOverwrite`) — both `list` impls hide them so a
    * concurrent lister can never select a partial file, matching Hadoop's
    * own hidden-file convention ("." / "_" prefixes skipped by FileInputFormat). */
  def isHidden(name: String): Boolean = name.startsWith(".")
}

final case class ObjectStat(name: String, modifiedAt: Long, size: Long)

/** Local-filesystem ObjectStore. */
final class LocalStore extends ObjectStore {
  private def p(folder: String, name: String): Path = Paths.get(folder, name)

  override def list(folder: String): Seq[ObjectStat] = {
    val dir = Paths.get(folder)
    if (!Files.isDirectory(dir)) return Nil
    val listing = Files.list(dir)
    try listing.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => ObjectStat(f.getFileName.toString,
        Files.getLastModifiedTime(f).toMillis, Files.size(f)))
      .filterNot(s => ObjectStore.isHidden(s.name))
      .toList.sortBy(_.name)
    finally listing.close()
  }

  override def open(folder: String, name: String): InputStream =
    Files.newInputStream(p(folder, name))

  override def putOverwrite(folder: String, name: String,
      write: OutputStream => Unit): Unit = {
    Files.createDirectories(Paths.get(folder))
    val tmp = Files.createTempFile(Paths.get(folder), s".$name", ".tmp")
    try {
      val out = Files.newOutputStream(tmp)
      try write(out) finally out.close()
      Files.move(tmp, p(folder, name), StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  override def delete(folder: String, name: String): Unit =
    Files.deleteIfExists(p(folder, name))
}

/** ObjectStore over the Hadoop `FileSystem` API — the same abstraction a
  * real cluster uses for s3a:// / abfs:// / hdfs:// (the reference's
  * remote-source semantics, box_ingest.py:37-83: its Box folder is exactly
  * a list/open/put/delete surface). `folder` may be any Hadoop URI; a bare
  * path resolves through `fs.defaultFS` (file:// in tests). This proves
  * the trait isn't shaped around java.nio.file — the orchestration in
  * [[graft.api.Ingest]] runs unchanged against either impl.
  */
final class HadoopStore(conf: org.apache.hadoop.conf.Configuration)
    extends ObjectStore {
  import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}

  def this() = this(new org.apache.hadoop.conf.Configuration())

  private def fsOf(p: HPath) = p.getFileSystem(conf)

  override def list(folder: String): Seq[ObjectStat] = {
    val dir = new HPath(folder)
    val fs = fsOf(dir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(_.isFile)
      .map(s => ObjectStat(s.getPath.getName, s.getModificationTime, s.getLen))
      .filterNot(s => ObjectStore.isHidden(s.name))
      .sortBy(_.name)
  }

  override def open(folder: String, name: String): InputStream =
    fsOf(new HPath(folder)).open(new HPath(folder, name))

  override def putOverwrite(folder: String, name: String,
      write: OutputStream => Unit): Unit = {
    val dir = new HPath(folder)
    val fs = fsOf(dir)
    fs.mkdirs(dir)
    // Spool to a dot-prefixed temp sibling (hidden from list() by the
    // ObjectStore.isHidden filter, so a concurrent lister can't observe
    // the partial file), then overwrite-rename — the same
    // create-or-replace-by-name contract as the reference's
    // update_contents-or-upload (box_export.py:58-62).
    val tmp = new HPath(dir, s".$name.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      FileContext.getFileContext(fs.getUri, conf)
        .rename(fs.makeQualified(tmp), fs.makeQualified(new HPath(dir, name)),
          Options.Rename.OVERWRITE)
    } finally fs.delete(tmp, false)
  }

  override def delete(folder: String, name: String): Unit =
    fsOf(new HPath(folder)).delete(new HPath(folder, name), false)
}

object FileSelect {
  /** O2: anchored name-prefix regex match — Python `re.match` semantics
    * (box_ingest.py:40) match at the START of the name, not fullmatch. */
  def matching(items: Seq[ObjectStat], nameRegex: String): Seq[ObjectStat] = {
    val p = java.util.regex.Pattern.compile(nameRegex)
    items.filter(i => p.matcher(i.name).lookingAt())
  }

  /** O3: latest-by-created-time, ties broken by name for determinism
    * (box_ingest.py:44-50 sorts by created_at desc, takes first). */
  def latest(items: Seq[ObjectStat]): Option[ObjectStat] =
    items.sortBy(i => (-i.modifiedAt, i.name)).headOption
}
