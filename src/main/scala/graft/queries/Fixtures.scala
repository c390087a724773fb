package graft.queries

import java.nio.file.{FileSystemException, Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Gate fixtures that are built once per corpus into a content-keyed
  * temp dir and shared by every gate, thread and process that needs them. */
private[queries] object Fixtures {

  /** Publishes `built`, a complete fixture inside the build dir `scratch`,
    * as `dir` with one atomic rename. `marker` is the file the fixture
    * writes last: a `dir` without it is a crashed partial publish and is
    * cleared first. A builder that loses the race to another keeps the
    * winner's dir. Linux refuses a rename onto a non-empty dir with a plain
    * `FileSystemException` ("Directory not empty"), so a lost race is told
    * by the winner's marker, not by the exception's type. `scratch` is
    * removed whether or not its fixture was moved. */
  def publish(scratch: Path, built: Path, dir: Path, marker: String): Unit =
    try {
      if (Files.exists(dir) && !Files.exists(dir.resolve(marker))) deleteTree(dir)
      try Files.move(built, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: FileSystemException =>
        if (!Files.exists(dir.resolve(marker))) throw e
      }
    } finally deleteTree(scratch)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
