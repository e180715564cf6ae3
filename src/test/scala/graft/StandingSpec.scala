package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sink

/** Laws of the one standing-artifact lifecycle, [[Sink.standing]]. */
class StandingSpec extends AnyFunSuite {

  // a fresh artifact name per test: the registry is JVM-global
  private def fresh(name: String): String = s"${name}_${java.util.UUID.randomUUID()}"

  test("8 concurrent first touches build once and share one path") {
    val name = fresh("law_once")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val touches = (1 to 8).map { _ =>
        pool.submit(new Callable[String] {
          def call(): String = {
            start.await()
            Sink.standing(name, "/law/dir") { _ =>
              builds.incrementAndGet()
              Thread.sleep(100)
            }
          }
        })
      }
      start.countDown()
      val paths = touches.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(paths.distinct.size === 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws is not remembered: the next call rebuilds") {
    val name = fresh("law_retry")
    val builds = new AtomicInteger
    def touch(): String = Sink.standing(name, "/law/dir") { _ =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
    }
    intercept[IllegalStateException](touch())
    val p = touch()
    assert(builds.get === 2)
    assert(touch() === p)
    assert(builds.get === 2)
  }

  test("a build may touch another standing artifact (nested builds)") {
    // a chain of nested first touches, deep enough that some inner key
    // shares a map bin with an outer one: a build run inside one
    // shared ConcurrentHashMap.computeIfAbsent fails there with
    // "Recursive update"
    val names = (0 until 32).map(i => fresh(s"law_nested$i"))
    val builds = new AtomicInteger
    def touch(i: Int): String = Sink.standing(names(i), "/law/dir") { _ =>
      if (i + 1 < names.size) touch(i + 1)
      builds.incrementAndGet()
      ()
    }
    val outer = touch(0)
    assert(builds.get === names.size)
    assert(touch(0) === outer && touch(names.size - 1) != outer)
    assert(builds.get === names.size)
  }

  test("dirs with equal String.hashCode get distinct artifacts") {
    assert("/law/Aa".hashCode === "/law/BB".hashCode)
    val name = fresh("law_tag")
    val builds = new AtomicInteger
    val a = Sink.standing(name, "/law/Aa") { _ => builds.incrementAndGet(); () }
    val b = Sink.standing(name, "/law/BB") { _ => builds.incrementAndGet(); () }
    assert(a != b)
    assert(builds.get === 2)
  }

  test("src/main keeps one standing-artifact registry: no per-site caches outside Sink") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = for {
      f <- files(root) if f.getName != "Sink.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if line.contains("computeIfAbsent") || line.contains("ConcurrentHashMap[String, String]")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
