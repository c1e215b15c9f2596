package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention classifier (round 11): no hard-coded exempt
  * query list and no self-CPU heuristic — a dirty-looking window is
  * contended only if its stall PERSISTS through an idle beat (the causal
  * test: stall this process caused stops the moment it stops running;
  * neighbor stall keeps going). */
class BenchSpec extends AnyFunSuite {

  test("contention classifier: stall that vanishes when idle is " +
      "workload, stall that persists is contention") {
    // hypervisor steal always contaminates, whatever we were doing
    assert(Bench.contendedWindow(0.05, 0.0, 1.0, 0.0))
    // neighbor-shaped: the window stalled AND the idle beat still stalls
    assert(Bench.contendedWindow(0.0, 0.15, 1.0, 0.2))
    // self-shaped: the SAME window stall but a quiet idle beat — our own
    // scheduler queue (sink bursts, short task storms), not contention
    assert(!Bench.contendedWindow(0.0, 0.15, 1.0, 0.0))
    // the boundary sits at the published constant
    assert(Bench.contendedWindow(0.0, 0.15, 1.0,
      Bench.AmbientStallLimit + 0.01))
    assert(!Bench.contendedWindow(0.0, 0.15, 1.0,
      Bench.AmbientStallLimit))
    // too-short window: the PSI delta is meaningless
    assert(!Bench.contendedWindow(0.0, 0.15, 0.01, 0.2))
    // quiet window never needs the beat
    assert(!Bench.contendedWindow(0.0, 0.02, 1.0, 0.0))
  }

  test("ambient beat: self-induced oversubscription stall stops when " +
      "this process idles") {
    val n = Runtime.getRuntime.availableProcessors()
    // this test measures the CAUSAL separation on a quiet host; when the
    // host itself is contended right now, the separation genuinely does
    // not hold (that is the feature's point) — cancel, don't fail
    assume(Bench.ambientStallFrac(300) < Bench.AmbientStallLimit,
      "host carries ambient CPU pressure; causal-separation test skipped")
    // induce our own scheduler pressure: 2x-cores spin threads for a
    // beat — "some" stall accrues while they run
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val threads = (0 until 2 * n).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (!stop.get()) { x += 1 }
        sink.addAndGet(x)
      })
      t.start(); t
    }
    val during = Bench.ambientStallFrac(400)
    stop.set(true)
    threads.foreach(_.join())
    assert(sink.get() > 0)
    val after = Bench.ambientStallFrac(400)
    // only meaningful when the burst actually registered (PSI accounting
    // exists) — the quiet-host precondition was assumed above
    assume(during > 0.05,
      s"oversubscription did not register PSI stall (during=$during); " +
        "cgroup without PSI accounting?")
    assert(after < during / 2,
      s"stall must collapse once we idle (during=$during after=$after)")
  }

  test("run-level integrity (round 15): deviation needs BOTH the ratio " +
      "and the absolute floor, so sub-second jitter never flags") {
    // 0.1 s query tripling: ratio trips but the floor doesn't — clean
    assert(!Bench.deviantWindow(0.35, 0.1))
    // 2 s query at 3.5x: both arms trip — deviant (the r14 class)
    assert(Bench.deviantWindow(7.0, 2.0))
    // big absolute excess but under the ratio (honest growth) — clean
    assert(!Bench.deviantWindow(2.4, 1.0))
    // exactly at the ratio boundary is clean (strict >)
    assert(!Bench.deviantWindow(3.0, 1.0))
  }

  test("run-level integrity: the committed clean record parses — " +
      "per-query map, sf1 map, sf tier") {
    val (q, sf1, sf) = Bench.loadRef("BENCH_REF.json")
    assert(q.size > 150, s"expected the full main-loop map, got ${q.size}")
    assert(q.contains("q00_catalog") && q("q00_catalog") > 0.0)
    assert(sf1.nonEmpty && sf1.values.forall(_ > 0.0))
    assert(sf === "sf0.1")
    // a missing file degrades to empty maps, never throws
    val (eq, es, esf) = Bench.loadRef("target/does-not-exist.json")
    assert(eq.isEmpty && es.isEmpty && esf.isEmpty)
  }

  test("run-level integrity (round 16): a reference record stamped " +
      "suspect is REJECTED — a dirty reference must not mask the " +
      "uniform inflation the gate exists to catch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benchref")
    val f = dir.resolve("ref.json")
    java.nio.file.Files.write(f,
      ("""{"metric":"total","queries":{"qa":1.5},"sf1_sec":{"qa":3.0},""" +
        """"suspect":true,"sf":"/x/sf0.1"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (q, sf1, sf) = Bench.loadRef(f.toString)
    assert(q.isEmpty && sf1.isEmpty && sf.isEmpty)
    // the same record without the stamp loads normally
    java.nio.file.Files.write(f,
      ("""{"metric":"total","queries":{"qa":1.5},"sf1_sec":{"qa":3.0},""" +
        """"sf":"/x/sf0.1"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (q2, sf12, sf2) = Bench.loadRef(f.toString)
    assert(q2 === Map("qa" -> 1.5) && sf12 === Map("qa" -> 3.0) &&
      sf2 === "sf0.1")
  }

  test("run-level integrity (round 18): a reference record carrying " +
      "CONTENDED windows is REFUSED as a refresh source — its inflated " +
      "windows would soften the deviation gate by their contention " +
      "factor") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benchref18")
    val f = dir.resolve("ref.json")
    def write(s: String) = java.nio.file.Files.write(f,
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // main-loop contended map present → rejected
    write("""{"metric":"total","queries":{"qa":1.5},""" +
      """"contended":{"qa":1.5},"sf1_sec":{"qa":3.0},"sf":"/x/sf0.1"}""")
    val (q1, s1, t1) = Bench.loadRef(f.toString)
    assert(q1.isEmpty && s1.isEmpty && t1.isEmpty)
    // sf1-probe contended map present → rejected the same way
    write("""{"metric":"total","queries":{"qa":1.5},""" +
      """"sf1_sec":{"qa":3.0},"sf1_contended":{"qa":3.0},"sf":"/x/sf0.1"}""")
    val (q2, s2, t2) = Bench.loadRef(f.toString)
    assert(q2.isEmpty && s2.isEmpty && t2.isEmpty)
    // the same record with no contended windows loads normally
    write("""{"metric":"total","queries":{"qa":1.5},""" +
      """"sf1_sec":{"qa":3.0},"sf":"/x/sf0.1"}""")
    val (q3, s3, t3) = Bench.loadRef(f.toString)
    assert(q3 === Map("qa" -> 1.5) && s3 === Map("qa" -> 3.0) &&
      t3 === "sf0.1")
  }

  test("run-level integrity (round 18): the COMMITTED reference record " +
      "is itself clean — loadRef accepts it (no contended windows, no " +
      "suspect stamp)") {
    val (q, sf1, sf) = Bench.loadRef("BENCH_REF.json")
    assert(q.nonEmpty,
      "the committed BENCH_REF was refused — it must be re-recorded on " +
        "a quiet window (loadRef rejects contended/suspect records)")
    assert(sf1.nonEmpty && sf === "sf0.1")
  }

  test("crash resilience (round 19, VERDICT r18 ask #4): a run killed " +
      "after 2 of 3 queries still yields a parsable partial record with " +
      "nq_completed=2 and the truncated stamp — and the emit flag is " +
      "claimed exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench19")
    val jsonl = dir.resolve("progress.jsonl")
    val log = new Bench.RunLog(3300.0, System.nanoTime(), Some(jsonl))
    log.nqTotal = 3
    // the measurement loop lands q_a and q_b; the kill arrives before q_c
    log.record("q_a", (1.5, 0.0, 0.0, 0.0), 2)
    log.record("q_b", (0.25, 0.0, 0.0, 0.0), 2)
    // SIGTERM-equivalent: the shutdown hook marks truncation and emits
    log.markTruncated()
    val (full, compact) = Bench.composeRecord(log,
      Map("q_a" -> 1.0), Map.empty, refApplies = true, sfDir = "/x/sf0.1")
    // the partial record parses with the same consumer the gate uses
    assert(Bench.parseRefMap(full, "queries") ===
      Map("q_a" -> 1.5, "q_b" -> 0.25))
    assert(full.contains("\"truncated\":true"))
    assert(full.contains("\"nq_completed\":2"))
    assert(full.contains("\"nq_total\":3"))
    assert(compact.contains("\"truncated\":true") &&
      compact.contains("\"nq\":2"))
    // the sf1 probe phase's wall spend is a published field (VERDICT
    // r18 ask #6) — 0.0 here since the kill landed before the probes
    assert(full.contains("\"sf1_wall_sec\":0.0"))
    // incremental evidence: one JSONL line per completed window is
    // already on disk even if NO record line ever printed
    val lines = java.nio.file.Files.readAllLines(jsonl)
    assert(lines.size === 2 && lines.get(0).contains("\"q\":\"q_a\""))
    // the hook and the normal path race idempotently
    assert(log.claimEmit() && !log.claimEmit())
  }

  test("record emission: emitRecord prints the compact line, then the " +
      "full record (the one carrying \"queries\":{) LAST, exactly once") {
    val log = new Bench.RunLog(3300.0, System.nanoTime(), None)
    log.nqTotal = 1
    log.record("q_a", (1.5, 0.0, 0.0, 0.0), 2)
    val out = new java.io.ByteArrayOutputStream()
    val (first, second) = Console.withOut(out) {
      (Bench.emitRecord(log, Map("q_a" -> 1.0), Map.empty,
        refApplies = true, sfDir = "/x/sf0.1"),
        Bench.emitRecord(log, Map("q_a" -> 1.0), Map.empty,
          refApplies = true, sfDir = "/x/sf0.1"))
    }
    assert(first && !second)
    val lines = out.toString("UTF-8").split("\n").toSeq
    assert(lines.size === 2)
    assert(!lines.head.contains("\"queries\":{"))
    assert(lines.last.contains("\"queries\":{"))
    assert(Bench.parseRefMap(lines.last, "queries") === Map("q_a" -> 1.5))
  }

  test("wall budget (round 19): shouldStart refuses new measurements " +
      "past StopFrac of the budget and latches the truncated stamp; " +
      "retryAllowed caps contention-retry spend at RetryFrac") {
    // a log whose budget is already overspent (start pushed into the past)
    val past = System.nanoTime() - (60 * 1e9).toLong
    val over = new Bench.RunLog(60.0 / Bench.StopFrac * 0.5, past, None)
    assert(!over.shouldStart && over.truncated)
    // a fresh log with headroom starts work and is not truncated
    val fresh = new Bench.RunLog(3300.0, System.nanoTime(), None)
    assert(fresh.shouldStart && !fresh.truncated)
    // retry budget: spend under the cap allows, crossing it refuses
    assert(fresh.retryAllowed)
    fresh.addRetrySpend(3300.0 * Bench.RetryFrac - 0.1)
    assert(fresh.retryAllowed)
    fresh.addRetrySpend(0.2)
    assert(!fresh.retryAllowed)
  }

  test("run-level integrity (round 19): a TRUNCATED record is refused " +
      "as a refresh source — partial evidence must not become the " +
      "deviation-gate reference") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benchref19")
    val f = dir.resolve("ref.json")
    java.nio.file.Files.write(f,
      ("""{"metric":"total","queries":{"qa":1.5},"sf1_sec":{"qa":3.0},""" +
        """"truncated":true,"nq_completed":1,"nq_total":3,"sf":"/x/sf0.1"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (q, sf1, sf) = Bench.loadRef(f.toString)
    assert(q.isEmpty && sf1.isEmpty && sf.isEmpty)
    // the same record completed (truncated:false) loads normally
    java.nio.file.Files.write(f,
      ("""{"metric":"total","queries":{"qa":1.5},"sf1_sec":{"qa":3.0},""" +
        """"truncated":false,"nq_completed":1,"nq_total":1,"sf":"/x/sf0.1"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val (q2, s2, sf2) = Bench.loadRef(f.toString)
    assert(q2 === Map("qa" -> 1.5) && s2 === Map("qa" -> 3.0) &&
      sf2 === "sf0.1")
  }

  test("run-level integrity: parseRefMap extracts exactly the named " +
      "flat map and tolerates absent keys") {
    val line = """{"metric":"total","queries":{"qa":1.5,"qb":0.25},""" +
      """"sf1_sec":{"qa":3.000},"sf":"/x/sf0.1"}"""
    assert(Bench.parseRefMap(line, "queries") ===
      Map("qa" -> 1.5, "qb" -> 0.25))
    assert(Bench.parseRefMap(line, "sf1_sec") === Map("qa" -> 3.0))
    assert(Bench.parseRefMap(line, "nope") === Map.empty)
  }
}
