package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

class FixturesSpec extends AnyFunSuite {

  private def listNames(dir: Path): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  test("fixture publish race: the loser keeps the winner's dir and leaves no build dir") {
    val base = Files.createTempDirectory("fixtures_race_")
    val dir = base.resolve("fixture")
    val builds = (1 to 2).map { i =>
      val tmp = Files.createTempDirectory(base, "build_")
      Files.writeString(tmp.resolve("shard0"), s"builder $i")
      Files.writeString(tmp.resolve("shard1"), s"builder $i") // the marker, written last
      tmp
    }
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val runs = builds.map { tmp =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { barrier.await(); Fixtures.publish(tmp, tmp, dir, "shard1") }
        })
      }
      runs.foreach(_.get(30, TimeUnit.SECONDS)) // rethrows either builder's failure
    } finally pool.shutdownNow()
    assert(listNames(dir) === Set("shard0", "shard1"))
    assert(Files.readString(dir.resolve("shard0")) === Files.readString(dir.resolve("shard1")))
    assert(listNames(base) === Set("fixture"))
  }

  test("fixture publish: a partial dir without its marker is replaced") {
    val base = Files.createTempDirectory("fixtures_partial_")
    val dir = base.resolve("fixture")
    Files.createDirectory(dir)
    Files.writeString(dir.resolve("shard0"), "crashed")
    val tmp = Files.createTempDirectory(base, "build_")
    Files.createDirectory(tmp.resolve("out"))
    Files.writeString(tmp.resolve("out").resolve("shard0"), "complete")
    Files.writeString(tmp.resolve("out").resolve("shard1"), "complete")
    Fixtures.publish(tmp, tmp.resolve("out"), dir, "shard1")
    assert(Files.readString(dir.resolve("shard0")) === "complete")
    assert(listNames(base) === Set("fixture"))
  }
}
