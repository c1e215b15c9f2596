package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.sources.datadb.CassandraDataFixture
import graft.sources.indexdb.IndexDb
import graft.sources.statsdb.StatsDb

/** The benchmark's JVM side. One closed-loop client thread drives one
  * workload for a fixed time on `local[nproc]`, then a short probe runs
  * every op the workload does not, and writes a raw record of every
  * sample (and, on a traced run, the spans) for `run.py` to reduce.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --inputs DIR[,DIR...] --gets FILE --out FILE --spans FILE
  *
  * Each input directory holds the same seeded `lineitem.parquet`; the
  * gets file holds the seeded point-get sequence, "<key> <1|0>" a line. */
object Main {

  val Workloads: Map[String, Seq[String]] = Map(
    "scan-reports" -> Seq("cfstats", "purge"),
    "index-lookups" -> Seq("gets", "pstats", "sstables"))

  val AllKinds: Seq[String] =
    Seq("cfstats", "purge", "pstats", "sstables", "compact", "gets")

  /** Point gets per `gets` op. */
  val GetsPerBatch = 300
  /** Gets the probe runs when the workload itself runs none. */
  val ProbeGets = 400
  /** Timed executions of each op kind the probe runs, after one untimed:
    * at least `ProbeReps`, and more until `ProbeSeconds` have passed, so a
    * cheap op gets enough samples for a steady median. An op that takes
    * longer runs exactly `ProbeReps`: its times still fall over the first
    * few executions, and a count that followed the host's speed would
    * measure a slow host at earlier, slower executions. */
  val ProbeReps = 3
  val ProbeSeconds = 2.0
  /** Seconds the workload's own loop runs untimed before timing starts:
    * the JIT keeps compiling through an op's first few executions, which
    * run up to 2x slower than later ones. */
  val WarmupLoopSeconds = 3.0
  /** Repetitions of each layer-isolation step on a traced run. */
  val IsoReps = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val loopKinds = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = secs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    // ---- set-up: one sstable-set write per input copy --------------------
    val dirs = a("inputs").split(",").toSeq
    val writeS = dirs.map(d =>
      secs(CassandraDataFixture.ensureFiles(spark, d, compressed = true))._2)
    val dir = dirs.head
    val path = CassandraDataFixture.ensureFiles(spark, dir, compressed = true)
    val files = Ops.dataFiles(path)
    val kernel0 = Kernel.decode(files.toSeq)
    val (mergeCount, mergeSum) =
      Ops.countAndChecksum(Ops.merged(spark, path, new Ctx(None, 0, "")))
    val exp = Expected(kernel0.cellEvents, IndexDb.read(spark, path).count(),
      files.length, mergeCount, mergeSum)
    def componentBytes(suffix: String): Long =
      Option(new File(path).listFiles((_, n) => n.endsWith(suffix)))
        .getOrElse(Array.empty[File]).map(_.length).sum

    // the seeded get sequence, consumed in order by every gets op
    val getSeq = scala.io.Source.fromFile(a("gets")).getLines().map { l =>
      val Array(k, p) = l.split(' ')
      (k.toLong, p == "1")
    }.toArray
    var getPos = 0

    // ---- op execution ----------------------------------------------------
    val tracer = new Tracer(spark)
    if (trace) tracer.attachQueries()
    val opRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    val getRecords = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val digests = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
    var attempted = 0L
    var opSeq = 0
    val compactOut = mutable.ArrayBuffer.empty[Double]
    var compactFiles = 0

    def note(kind: String, o: Either[Throwable, Outcome]): Boolean = {
      attempted += 1
      o match {
        case Left(t) =>
          failures += s"$kind.exception: ${t.getClass.getSimpleName}: " +
            s"${Option(t.getMessage).getOrElse("").take(200)}"
          false
        case Right(out) =>
          out.failed.foreach(failures += _)
          if (kind != "gets")
            digests.getOrElseUpdate(kind, mutable.LinkedHashSet.empty) +=
              out.digest
          out.failed.isEmpty
      }
    }

    /** Run one op: `timed` inside the timing (and the op span when traced),
      * `check` after it, untimed. */
    def run[A](kind: String, phase: String, traced: Boolean)(
        timed: Ctx => A)(check: A => Outcome): Unit = {
      opSeq += 1
      val id = s"$kind#$opSeq"
      val result = try {
        val (a, wall) =
          if (traced) tracer.op(kind, id) { sid =>
            secs(timed(new Ctx(Some(tracer), sid, id))) }._2
          else secs(timed(new Ctx(None, 0, id)))
        Right((check(a), wall))
      } catch { case t: Throwable => Left(t) }
      val ok = note(kind, result.map(_._1))
      opRecords += Map("kind" -> kind, "id" -> id, "phase" -> phase,
        "traced" -> traced, "ok" -> ok,
        "wall_s" -> result.map(_._2).toOption)
    }

    def gets(n: Int, phase: String, traced: Boolean): Unit = {
      opSeq += 1
      val id = s"gets#$opSeq"
      val body = (parent: Int) => (0 until n).foreach { _ =>
        val (key, present) = getSeq(getPos % getSeq.length)
        getPos += 1
        val t0 = System.nanoTime()
        val r = try {
          Right(if (traced)
            tracer.span("pointget.getOne", parent, id)(
              Ops.get(spark, dir, key, present))
          else Ops.get(spark, dir, key, present))
        } catch { case t: Throwable => Left(t) }
        val ms = (System.nanoTime() - t0) / 1e6
        val ok = note("gets", r.map(_._1))
        val outcomes = r.map(_._2).getOrElse(Nil)
        getRecords += Map("phase" -> phase, "traced" -> traced, "ok" -> ok,
          "ms" -> ms, "present" -> present,
          "sstables" -> outcomes.length,
          "bloom_miss" -> outcomes.count(_ == "bloom-miss"),
          "index_miss" -> outcomes.count(_ == "index-miss"),
          "found" -> outcomes.count(_ == "found"),
          "events" -> r.map(_._3).getOrElse(0L))
      }
      if (traced) tracer.op("gets", id, sql = false)(body)
      else body(0)
    }

    def runKind(kind: String, phase: String, traced: Boolean): Unit =
      kind match {
        case "cfstats" => run(kind, phase, traced)(c =>
          Ops.cfstats(spark, path, c, exp))(identity)
        case "purge" => run(kind, phase, traced)(c =>
          Ops.purge(spark, path, c))(identity)
        case "pstats" => run(kind, phase, traced)(c =>
          Ops.pstats(spark, path, c, exp))(identity)
        case "sstables" => run(kind, phase, traced)(c =>
          Ops.sstables(spark, path, c, exp))(identity)
        case "compact" =>
          val out = Files.createTempDirectory(work.toPath, "compact-").toString
          try run(kind, phase, traced)(c =>
              Ops.compact(spark, path, out, c)) { _ =>
              compactOut += Ops.dirBytes(out).toDouble
              compactFiles = Ops.dataFiles(out).length
              Ops.checkCompacted(spark, out, exp)
            }
          finally Ops.deleteTree(new File(out))
        case "gets" =>
          gets(if (phase == "probe") ProbeGets else GetsPerBatch, phase, traced)
      }

    def repeatFor(seconds: Double)(cycle: => Unit): Unit = {
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) cycle
    }

    // warm-up: one untimed execution of every op kind (JIT, codegen, class
    // loading); set-up time is session start + median write + this warm-up.
    // The workload's loop then runs untimed for a few seconds more, outside
    // set-up time, so the JIT settles before timing starts.
    val (_, warmS) = secs(AllKinds.foreach(k => runKind(k, "warmup", false)))
    val setupS = sessionS + median(writeS) + warmS
    repeatFor(WarmupLoopSeconds)(
      loopKinds.foreach(k => runKind(k, "warmup", false)))

    // ---- timed closed loop ----------------------------------------------
    // a traced run alternates untraced and traced cycles, so the tracing
    // overhead is measured under the same host conditions
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    var cycle = 0
    repeatFor(seconds) {
      val traced = trace && cycle % 2 == 1
      if (traced) tracer.attach()
      val before = opRecords.length
      val getsBefore = getRecords.length
      try loopKinds.foreach(k => runKind(k, "loop", traced))
      finally if (traced) tracer.detach()
      val opWall = opRecords.drop(before)
        .flatMap(_("wall_s").asInstanceOf[Option[Double]]).sum
      val getWall = getRecords.drop(getsBefore).map(_("ms").asInstanceOf[Double]).sum / 1e3
      cycles += Map("traced" -> traced, "wall_s" -> (opWall + getWall))
      cycle += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9

    // ---- probe: the ops this workload does not run ------------------------
    AllKinds.filterNot(loopKinds.contains).foreach { k =>
      runKind(k, "warmup", false)
      if (trace) tracer.attach()
      if (k == "gets") runKind(k, "probe", trace)
      else {
        val t0 = System.nanoTime()
        var reps = 0
        while (reps < ProbeReps || (System.nanoTime() - t0) / 1e9 < ProbeSeconds) {
          runKind(k, "probe", trace)
          reps += 1
        }
      }
      if (trace) tracer.detach()
    }
    if (trace) tracer.attach()

    // ---- layer isolation (traced runs) ------------------------------------
    val iso = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val drains = (0 until IsoReps).map(_ => Kernel.drain(files.toSeq))
      val decodes = (0 until IsoReps).map(_ => Kernel.decode(files.toSeq))
      iso ++= Seq(
        "chunks" -> drains.head.chunks,
        "mb_in" -> drains.head.bytesIn / 1048576.0,
        "mb_out" -> drains.head.bytesOut / 1048576.0,
        "decompress_s" -> median(drains.map(_.seconds)),
        "kernel_events" -> decodes.head.events,
        "kernel_s" -> median(decodes.map(_.seconds)))
      def isoOp(kind: String)(f: Ctx => Unit): Unit =
        (0 until IsoReps).foreach(_ =>
          run(kind, "isolation", traced = true)(f)(_ => Outcome("", None)))
      isoOp("scan")(c => Ops.rawScan(spark, path, c))
      isoOp("merge")(c => Ops.mergeOnly(spark, path, c))
      isoOp("indexscan")(c => c.layer("indexdb.read")(IndexDb.read(spark, path))
        .write.format("noop").mode("overwrite").save())
      isoOp("statsscan")(c => c.layer("statsdb.readCassandra")(
        StatsDb.readCassandra(spark, path, graft.sources.Fixtures.GcBeforeS))
        .write.format("noop").mode("overwrite").save())
      iso ++= Seq("index_entries" -> exp.indexEntries,
        "stats_files" -> files.length)
    }
    if (trace) tracer.detach()

    // every execution of an op kind must give the same result
    digests.foreach { case (k, ds) =>
      if (ds.size > 1) failures += s"$k.digest_stable"
    }

    // each traced op is credited with exactly the Catalyst queries of the
    // SQL executions started under its own tag
    val queries = tracer.queries
    if (trace) {
      val perOp = queries.groupBy(_("op").asInstanceOf[String])
        .view.mapValues(_.size).toMap
      val started = tracer.sqlExecutions
      opRecords.filter(o => o("traced") == true && o("kind") != "gets")
        .foreach { o =>
          val id = o("id").asInstanceOf[String]
          val n = perOp.getOrElse(id, 0)
          if (n == 0 || n != started.getOrElse(id, 0))
            failures += s"${o("kind")}.trace_query_attribution"
        }
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "seconds" -> seconds, "loop_s" -> loopS, "cpus" -> cpus,
      "input" -> Map(
        "sstables" -> files.length,
        "data_db_bytes" -> componentBytes("-Data.db"),
        "index_db_bytes" -> componentBytes("-Index.db"),
        "all_bytes" -> Ops.dirBytes(path),
        "events" -> kernel0.events, "cell_events" -> kernel0.cellEvents,
        "index_entries" -> exp.indexEntries),
      "setup" -> Map("session_s" -> sessionS, "write_s" -> writeS,
        "warmup_s" -> warmS, "setup_s" -> setupS),
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "ops" -> opRecords, "gets" -> getRecords, "cycles" -> cycles,
      "compact_out_bytes" -> compactOut, "compact_out_files" -> compactFiles,
      "iso" -> iso,
      "stages" -> tracer.stages, "queries" -> queries,
      "peak_rss_mb" -> vmHwmMb())
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.write(Paths.get(a("out")), json.writeValueAsBytes(record))
    if (trace)
      Files.write(Paths.get(a("spans")), json.writeValueAsBytes(tracer.spans))
    spark.stop()
  }
}
