package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The [[Stage]] staging contract: once per key under concurrency,
  * nested staging of another key, and no trace of a failed build.
  */
class StageSpec extends AnyFunSuite {

  private def freshKey(): String = java.util.UUID.randomUUID().toString

  test("8 concurrent callers on one key run one build and share its dir") {
    val key = freshKey()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        Stage.once("stagespec_conc_", key) { dir =>
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build so the others arrive mid-build
          Files.writeString(dir.resolve("a.txt"), "x")
        }
      }))
      start.countDown()
      val dirs = futs.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1)
      assert(dirs.size == 1)
      val dir = dirs.head
      assert(dir.getFileName.toString.startsWith("stagespec_conc_"))
      assert(Files.readString(dir.resolve("a.txt")) == "x")
    } finally pool.shutdown()
  }

  test("a build that stages a different key from inside itself completes") {
    val key = freshKey()
    var inner: Path = null
    val outer = Stage.once("stagespec_outer_", key) { dir =>
      inner = Stage.once("stagespec_inner_", key) { d =>
        Files.writeString(d.resolve("leaf.txt"), "leaf")
      }
      Files.writeString(dir.resolve("root.txt"),
        Files.readString(inner.resolve("leaf.txt")))
    }
    assert(Files.readString(outer.resolve("root.txt")) == "leaf")
    assert(Stage.once("stagespec_inner_", key)(_ => fail("rebuilt")) == inner)
    assert(Stage.once("stagespec_outer_", key)(_ => fail("rebuilt")) == outer)
  }

  test("a build that throws leaves no entry and no dir; the next call rebuilds") {
    val key = freshKey()
    var failedDir: Path = null
    val e = intercept[IllegalStateException] {
      Stage.once("stagespec_fail_", key) { dir =>
        failedDir = dir
        Files.writeString(dir.resolve("partial.txt"), "half")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(failedDir != null && !Files.exists(failedDir))
    val builds = new AtomicInteger()
    val dir = Stage.once("stagespec_fail_", key) { d =>
      builds.incrementAndGet()
      Files.writeString(d.resolve("done.txt"), "ok")
    }
    assert(builds.get == 1)
    assert(dir != failedDir)
    assert(Files.readString(dir.resolve("done.txt")) == "ok")
  }
}
