package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The [[Stage]] staging contract: once per key under concurrency,
  * nested staging of another key, and no trace of a failed build, also
  * when a failing [[Par]] branch cancels the build's Spark job.
  */
class StageSpec extends SparkSpec {

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

  test("a Par branch that throws while a sibling's Stage.once build runs a " +
    "Spark job leaves no entry and no dir; the next call rebuilds") {
    val key = freshKey()
    val prefix = "stagespec_par_"
    val sc = spark.sparkContext
    val jobStarted = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "stagespec build")
          jobStarted.countDown()
    }
    @volatile var buildDir: Path = null
    sc.addSparkListener(l)
    val t0 = System.nanoTime()
    val e = try intercept[IllegalStateException] {
      Par.scope(spark, 2) { p =>
        val build = p.fork("stagespec build") {
          Stage.once(prefix, key) { dir =>
            buildDir = dir
            Files.writeString(dir.resolve("partial.txt"), "half")
            // 30 s of tasks unless the failing sibling cancels them
            sc.parallelize(1 to 2, 2).map { x =>
              var i = 0
              while (i < 300 && !TaskContext.get().isInterrupted()) {
                Thread.sleep(100); i += 1
              }
              x
            }.count()
          }
        }
        val bad = p.fork("stagespec bad") {
          assert(jobStarted.await(30, TimeUnit.SECONDS), "the build's job never started")
          throw new IllegalStateException("branch failed")
        }
        (build.join(), bad.join())
      }
    } finally sc.removeSparkListener(l)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "branch failed")
    assert(sec < 15, s"the call took $sec s; the build's job runs 30 s")
    assert(buildDir != null && !Files.exists(buildDir))
    val listing = Files.list(Scratch.root)
    val left = try listing.filter(_.getFileName.toString.startsWith(prefix)).count()
      finally listing.close()
    assert(left == 0, s"$left half-built $prefix dirs left")
    // no entry: the next call runs its build instead of returning a dir
    val builds = new AtomicInteger()
    val dir = Stage.once(prefix, key) { d =>
      builds.incrementAndGet()
      Files.writeString(d.resolve("done.txt"), "ok")
    }
    assert(builds.get == 1)
    assert(dir != buildDir && Files.readString(dir.resolve("done.txt")) == "ok")
  }
}
