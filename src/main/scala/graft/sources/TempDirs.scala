package graft.sources

import java.nio.file.{Files, Path}

/** JVM-lifetime registry of fixture temp directories. Fixture trees are
  * memoized per JVM (one build per session), so the natural reclaim point
  * is JVM exit — without this every sbt/driver invocation leaks its
  * ~25 MB binary-fixture tree into /tmp. */
object TempDirs {

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  // callbacks that MUST run before the sweep (round 19): JVM shutdown
  // hooks run concurrently in no defined order, so a killed Bench run
  // could have its fixture dirs deleted under an in-flight query BEFORE
  // its partial record printed (the r18 tail was such a victim stack).
  // Evidence emitters register here; the sweep drains them first.
  private val preSweep =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    preSweep.forEach(f => try f() catch { case _: Throwable => () })
    registered.forEach(p => deleteTree(p))
  }, "graft-tempdir-sweep"))

  /** Run `f` before the exit sweep deletes anything (idempotence is the
    * caller's job — the same emitter may also run from its own hook). */
  def registerPreSweep(f: () => Unit): Unit = { preSweep.add(f); () }

  /** Register `dir` for deletion at JVM exit; returns it for chaining. */
  def register(dir: Path): Path = { registered.add(dir); dir }

  /** A registered temp dir named `prefix…`, filled by `write`. A failed
    * write deletes the half-written tree before rethrowing, so it is
    * neither memoized nor left behind. Returns the dir's path. */
  def fill(prefix: String)(write: Path => Unit): String = {
    val out = register(Files.createTempDirectory(prefix))
    try write(out)
    catch { case t: Throwable => deleteTree(out); throw t }
    out.toString
  }

  /** The `onDrop` of the session memos whose values are fixture dirs. */
  def deleteDir(dir: String): Unit = deleteTree(java.nio.file.Paths.get(dir))

  /** Best-effort recursive delete (also used by fixture failure paths). */
  def deleteTree(root: Path): Unit = {
    val f = root.toFile
    Option(f.listFiles()).foreach(_.foreach(c => deleteTree(c.toPath)))
    f.delete(): Unit
  }
}
