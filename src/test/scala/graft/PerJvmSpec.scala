package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM lifecycle helper on its own — no Spark session, no job. */
class PerJvmSpec extends AnyFunSuite {

  private def withPool[A](n: Int)(body: ExecutionContext => A): A = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("concurrent callers of one key build exactly once") {
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val got = withPool(8) { implicit ec =>
      val calls = (1 to 8).map(_ => Future {
        go.await()
        PerJvm.once("perjvm-spec|concurrent") {
          builds.incrementAndGet()
          Thread.sleep(100)
          "built"
        }
      })
      go.countDown()
      Await.result(Future.sequence(calls), 30.seconds)
    }
    assert(got.toSet == Set("built"))
    assert(builds.get == 1)
  }

  test("a build may call once for another key from a second thread") {
    // the stream pass's shape: its build fans seeds out to a pool, and
    // each seed stages fixtures through once. "Aa" and "BB" have equal
    // String hashes, so the two keys share a map bin: a build run
    // inside the map's compute would hold the bin the inner call needs.
    assert("perjvm-spec|Aa".hashCode == "perjvm-spec|BB".hashCode)
    val got = withPool(1) { ec =>
      PerJvm.once("perjvm-spec|Aa") {
        val inner = Future(PerJvm.once("perjvm-spec|BB")("inner"))(ec)
        "outer+" + Await.result(inner, 20.seconds)
      }
    }
    assert(got == "outer+inner")
    assert(PerJvm.once("perjvm-spec|BB")("rebuilt") == "inner")
  }

  test("a build that throws caches nothing and is retried") {
    val attempts = new AtomicInteger()
    def build(): Int =
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first")
      else 42
    val e = intercept[IllegalStateException](PerJvm.once("perjvm-spec|retry")(build()))
    assert(e.getMessage == "first")
    assert(PerJvm.once("perjvm-spec|retry")(build()) == 42)
    assert(PerJvm.once("perjvm-spec|retry")(build()) == 42)
    assert(attempts.get == 2)
  }

  test("fresh makes a new root and deletes the one it replaces") {
    val first = PerJvm.fresh("perjvm-spec|fresh")
    Files.write(Paths.get(first, "f"), Array[Byte](1))
    Files.createDirectories(Paths.get(first, "sub", "deeper"))
    val second = PerJvm.fresh("perjvm-spec|fresh")
    assert(second != first)
    assert(!Files.exists(Paths.get(first)))
    assert(Files.isDirectory(Paths.get(second)))
    // another key's root is not touched
    val other = PerJvm.fresh("perjvm-spec|other")
    PerJvm.fresh("perjvm-spec|fresh")
    assert(Files.isDirectory(Paths.get(other)))
    assert(!Files.exists(Paths.get(second)))
  }
}
