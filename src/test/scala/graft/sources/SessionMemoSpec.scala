package graft.sources

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The one session-scoped memo: sharing, concurrency, failure, nesting,
  * invalidation and the stopped-session sweep. */
class SessionMemoSpec extends SparkSpec {

  test("two same-key callers on two threads share one build") {
    val memo = new SessionMemo[Int]
    val builds = new AtomicInteger()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def build(v: Int): Int = {
      builds.incrementAndGet(); started.countDown()
      release.await(10, TimeUnit.SECONDS); v
    }
    val first = Future(memo(spark, "k")(build(1)))
    assert(started.await(10, TimeUnit.SECONDS))
    val second = Future(memo(spark, "k")(build(2)))
    Thread.sleep(200) // let the second caller reach the key's slot
    release.countDown()
    assert(Await.result(first, 30.seconds) === 1)
    assert(Await.result(second, 30.seconds) === 1)
    assert(builds.get === 1)
  }

  test("distinct keys build concurrently: a blocked build does not hold " +
      "up another key's build") {
    val memo = new SessionMemo[Boolean]
    val aStarted = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    // a's build only finishes once b's has — under one memo-wide lock
    // around builds, b would wait for a and a would time out (false)
    val a = Future(memo(spark, "a") {
      aStarted.countDown(); bDone.await(10, TimeUnit.SECONDS)
    })
    assert(aStarted.await(10, TimeUnit.SECONDS))
    assert(memo(spark, "b")(true))
    bDone.countDown()
    assert(Await.result(a, 30.seconds))
  }

  test("a failed build rethrows, is retried on the next access and " +
      "memoized once it succeeds") {
    val memo = new SessionMemo[Int]
    var attempts = 0
    def build(): Int = {
      attempts += 1
      if (attempts == 1) throw new IllegalStateException("boom")
      42
    }
    val e = intercept[IllegalStateException](memo(spark, "f")(build()))
    assert(e.getMessage === "boom")
    assert(memo(spark, "f")(build()) === 42)
    assert(memo(spark, "f")(build()) === 42)
    assert(attempts === 2)
  }

  test("a build may look up another key of the same memo " +
      "(the liPartitions → liPscan shape) without deadlock") {
    val memo = new SessionMemo[Int]
    val outer = Future(memo(spark, "outer")(memo(spark, "inner")(1) + 1))
    assert(Await.result(outer, 30.seconds) === 2)
    assert(memo(spark, "inner")(-1) === 1)
  }

  test("dropWhere drops only the calling session's matching keys and " +
      "runs onDrop on each finished value") {
    val dropped = scala.collection.mutable.ArrayBuffer[String]()
    val memo = new SessionMemo[String](v => dropped.synchronized(dropped += v))
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    memo(s1, "x|a")("s1-x")
    memo(s1, "y|a")("s1-y")
    memo(s2, "x|a")("s2-x")
    intercept[IllegalStateException](
      memo(s1, "x|failed")(throw new IllegalStateException("unbuilt")))
    assert(memo.dropWhere(s1)(_.startsWith("x|")) === Seq("s1-x"))
    assert(dropped.toSeq === Seq("s1-x"))
    // the dropped key rebuilds; the others are still memoized
    assert(memo(s1, "x|a")("s1-x2") === "s1-x2")
    assert(memo(s1, "y|a")("rebuilt") === "s1-y")
    assert(memo(s2, "x|a")("rebuilt") === "s2-x")
  }

  test("an entry of a stopped session is swept and its onDrop deletes " +
      "the dir") {
    // stopping a context here would stop the session every spec shares,
    // so the stop-then-look-up sequence runs in a child JVM
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a =>
        a.startsWith("-Xmx") || a.startsWith("-agentlib") ||
          a.startsWith("-javaagent"))
    val cmd = Seq(
      java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
        .toString) ++ jvmArgs ++ Seq("-Xmx1g",
      "-cp", System.getProperty("java.class.path"),
      "graft.sources.SessionMemoSweepProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(120, TimeUnit.SECONDS) && proc.exitValue() === 0, out)
    assert(out.linesIterator.contains("SWEPT"), out)
  }

  test("no hand-rolled session memo: sparkContext.isStopped appears in " +
      "src/main only inside SessionMemo.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionMemo.scala")
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("sparkContext.isStopped"))
      .map(_.toString).toSeq.sorted
    assert(offenders.isEmpty,
      "session-scoped memos go through graft.sources.SessionMemo")
  }
}

/** Child-JVM half of the stopped-session case: memoize a fixture dir
  * under one session, stop it, then look the key up under a fresh
  * session. Prints SWEPT when the stale entry's dir was deleted by the
  * sweep and the fresh session got its own build. */
object SessionMemoSweepProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.SparkSession
    def session(): SparkSession = SparkSession.builder()
      .master("local[1]").appName("session-memo-sweep")
      .config("spark.ui.enabled", "false").getOrCreate()
    val memo = new SessionMemo[String](TempDirs.deleteDir)
    def fixture(s: SparkSession): String =
      memo(s, "fixture")(TempDirs.fill("graft-sweep-probe") { d =>
        java.nio.file.Files.write(d.resolve("x"), Array[Byte](1)); ()
      })
    val old = session()
    val stale = fixture(old)
    old.stop()
    val fresh = session()
    val rebuilt = fixture(fresh)
    val swept = !new java.io.File(stale).exists() &&
      new java.io.File(rebuilt, "x").exists() && rebuilt != stale
    println(if (swept) "SWEPT" else s"NOT SWEPT: $stale still exists")
    fresh.stop()
  }
}
