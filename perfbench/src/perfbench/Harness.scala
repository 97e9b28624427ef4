package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: one workload, one seed, one run.
  *
  * A run starts the session, sets the workload's inputs up three times
  * (the median is `setup_s`), then measures passes back to back until
  * `--seconds` have elapsed, and at least one. There is no warm-up pass:
  * the system is a batch pipeline that runs as a fresh JVM per job, so
  * the first pass pays the first-use and JIT costs a job pays, less what
  * set-up already warmed. Every workload is a closed loop with one
  * client: an operation starts only when the one before it has returned.
  *
  * Between operations the harness records the block-manager storage
  * still held, then unpersists everything, so no operation's time
  * depends on what ran before it. That bookkeeping, the output checks
  * and the per-pass resets run with the pass clock paused.
  *
  * With `--trace 1` every operation runs under its own job group; a
  * listener keyed by that group sums the task metrics of the operation's
  * stages. Spans are kept in memory and written to one file at the end.
  *
  * Results go to the `--out` JSON file; `perfbench/run.py` adds the
  * DuckDB oracle check and prints the final line.
  */
object Harness {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cpus: Int, clkTck: Long, out: Path,
      traceOut: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")), kv("cpus").toInt,
      kv("clk-tck").toLong, Paths.get(kv("out")), Paths.get(kv("trace-out")))
    val runStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - runStart) / 1e9
    val workload: Workload = conf.workload match {
      case "analytics" => new Analytics(spark, conf)
      case "lakehouse_rw" => new LakehouseRw(spark, conf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputsS = (System.nanoTime() - runStart) / 1e9 - sessionS
    val runner = new Runner(spark, conf, runStart)
    try {
      val result = runner.run(workload, Seq("session_s" -> sessionS, "inputs_s" -> inputsS))
      Files.write(conf.out, result.getBytes("UTF-8"))
      if (conf.trace) Files.write(conf.traceOut, runner.traceJson.getBytes("UTF-8"))
    } finally spark.stop()
  }
}

/** One workload: its set-up, its pass, and the checks of its outputs,
  * made through [[Runner.check]]. */
trait Workload {
  /** Build the inputs from the seed. Called three times; the last build
    * is the one the passes use. */
  def setup(rep: Int): Unit
  /** Operations of one pass, each through [[Runner.op]]. */
  def pass(p: Int, r: Runner): Unit
  /** Checks of pass `p`'s outputs, then the reset for the next pass.
    * Runs outside the pass's timed region. */
  def afterPass(p: Int, r: Runner): Unit
  /** Checks made once, after the last pass. */
  def finalChecks(): Unit = ()
}

final case class Span(id: Long, parent: Long, name: String, start: Long,
    end: Long, workload: String, pass: Int)

/** Task metrics summed over the stages of one span's jobs. */
final class Counters {
  var cpuNs, runMs, tasks, shuffleWrite, gcMs, spill, inBytes, outBytes = 0L
}

/** One measured pass: wall and process CPU with the clock's paused parts
  * taken out, the storage its operations left behind, and the untimed
  * time spent in its paused parts and in its checks. */
final case class PassRecord(pass: Int, wallS: Double, cpuS: Double, cacheLeftMb: Double,
    pausedS: Double, checksS: Double)

/** One operation: `kind` is "write", "read" or "plan". */
final case class OpRecord(pass: Int, kind: String, span: String, wallS: Double)

final class Runner(val spark: SparkSession, val conf: Harness.Conf, runStart: Long) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private var nextId = 0L
  private val GroupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(GroupPrefix)) {
        val id = java.lang.Long.valueOf(g.stripPrefix(GroupPrefix))
        js.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val id = stageSpan.get(te.stageId)
      if (m != null && id != null) {
        val c = counters.computeIfAbsent(id.longValue, _ => new Counters)
        c.synchronized {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.tasks += 1
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.gcMs += m.jvmGCTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private var pass = 0
  private var passSpan = 0L
  private var pausedNs = 0L
  private var pausedCpu = 0.0
  private var cacheLeftMb = 0.0
  private val passes = ArrayBuffer.empty[PassRecord]
  private val ops = ArrayBuffer.empty[OpRecord]
  /** Per-pass values a workload reports for the traced run. */
  private val extras = ArrayBuffer.empty[(String, Double)]
  private var checksMade = 0L
  private val failures = ArrayBuffer.empty[String]

  private def now: Long = System.nanoTime() - runStart

  /** utime + stime of this JVM, in seconds, from /proc. */
  private def processCpuS: Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), "UTF-8")
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong).toDouble / conf.clkTck
  }

  /** The number after `key:` in `/proc/self/<file>`. */
  def procField(file: String, key: String): Long =
    Files.readAllLines(Paths.get(s"/proc/self/$file")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Block-manager storage memory held right now, in MB. */
  private def storageUsedMb: Double =
    sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum / 1e6

  /** Run `f` with the pass clock stopped (isolation, checks, resets). */
  def paused[A](f: => A): A = {
    val t0 = System.nanoTime()
    val c0 = processCpuS
    try f
    finally {
      pausedNs += System.nanoTime() - t0
      pausedCpu += processCpuS - c0
    }
  }

  /** Drop every cached frame and block the program or the benchmark
    * left behind. */
  def clearCaches(): Unit = {
    graft.ops.Caches.unpersistAll()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** One operation of a pass: timed, and in a traced run a span under
    * its own job group. Afterwards (clock paused) the storage it left
    * is recorded and cleared. */
  def op[A](span: String, kind: String)(f: => A): A = opThen(span, kind)(f)(_ => ())

  /** [[op]], then `beforeClear` on its result with the clock paused,
    * before the caches are cleared (for example, to keep a query's
    * result for a check while the frames it reads are still cached). */
  def opThen[A](span: String, kind: String)(f: => A)(beforeClear: A => Unit): A = {
    val id = { nextId += 1; nextId }
    if (conf.trace) sc.setJobGroup(GroupPrefix + id, span, interruptOnCancel = false)
    val t0 = now
    // an operation that throws ends the run: run.py reports it and
    // exits without a result
    val r = try f finally {
      val t1 = now
      if (conf.trace) {
        sc.clearJobGroup()
        spans += Span(id, passSpan, span, t0, t1, conf.workload, pass)
      }
      ops += OpRecord(pass, kind, span, (t1 - t0) / 1e9)
      System.err.println(f"perfbench: pass $pass op $span ${(t1 - t0) / 1e9}%.3f s")
    }
    paused {
      if (conf.trace) GraftSparkShims.waitUntilListenerBusEmpty(sc)
      cacheLeftMb += storageUsedMb
      beforeClear(r)
      clearCaches()
    }
    r
  }

  /** Record a per-pass value for the traced run's report. */
  def extra(name: String, v: Double): Unit = extras += ((name, v))

  def check(cond: Boolean, msg: => String): Unit = {
    checksMade += 1
    if (!cond) failures += s"pass $pass: $msg"
  }

  private def runPass(w: Workload): Unit = {
    pass += 1
    passSpan = { nextId += 1; nextId }
    pausedNs = 0L; pausedCpu = 0.0; cacheLeftMb = 0.0
    val c0 = processCpuS
    val t0 = now
    w.pass(pass, this)
    val t1 = now
    val cpu = processCpuS - c0 - pausedCpu
    if (conf.trace) {
      GraftSparkShims.waitUntilListenerBusEmpty(sc)
      spans += Span(passSpan, 0L, "pass", t0, t1, conf.workload, pass)
    }
    val c0Checks = System.nanoTime()
    w.afterPass(pass, this)
    passes += PassRecord(pass, (t1 - t0 - pausedNs) / 1e9, cpu, cacheLeftMb, pausedNs / 1e9,
      (System.nanoTime() - c0Checks) / 1e9)
  }

  /** Set up, measure, check; returns the result JSON. `startup` holds
    * the run's untimed start-up phases, reported as facts. */
  def run(w: Workload, startup: Seq[(String, Double)]): String = {
    val setups = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    if (conf.trace) sc.addSparkListener(listener)
    val measureStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - measureStart) / 1e9 < conf.seconds)
      runPass(w)
    if (conf.trace) sc.removeSparkListener(listener)
    w.finalChecks()
    val peakRssMb = procField("status", "VmHWM") / 1024.0
    report(setups, startup, peakRssMb)
  }

  // ---------------------------------------------------------------- report

  private def report(setups: Seq[Double], startup: Seq[(String, Double)],
      peakRssMb: Double): String = {
    import Stats._
    def latencies(kind: String) = ops.filter(_.kind == kind).map(_.wallS)
    val (writes, reads) = (latencies("write"), latencies("read"))
    val passWall = median(passes.map(_.wallS))
    // per-pass sums of each kind's latencies: with a handful of ops of a
    // kind per pass, their sum is steadier than their median
    def perPassSum(kind: String) =
      median(passes.map(p => ops.filter(o => o.pass == p.pass && o.kind == kind).map(_.wallS).sum))
    val endToEnd = Seq(
      "setup_s" -> ("s", median(setups)),
      "pass_s" -> ("s", passWall),
      "cpu_s" -> ("s", median(passes.map(_.cpuS))),
      "write_s" -> ("s", perPassSum("write")),
      "read_s" -> ("s", perPassSum("read")))
    val layer = if (conf.trace) layerMetrics(passWall, writes, reads, peakRssMb) else Seq.empty
    def metricsJson(ms: Seq[(String, (String, Double))]): String =
      ms.map { case (n, (u, v)) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    val info = Seq("passes" -> passes.size.toDouble, "write_ops" -> writes.size.toDouble,
      "read_ops" -> reads.size.toDouble, "paused_s" -> median(passes.map(_.pausedS)),
      "checks_s" -> median(passes.map(_.checksS))) ++ startup ++
      setups.zipWithIndex.map { case (v, i) => s"setup_rep${i + 1}_s" -> v }
    s"""{"workload":"${conf.workload}","seed":${conf.seed},""" +
      s""""attempted":${ops.size + checksMade},"failed":${failures.size},""" +
      s""""failures":${Json.strs(failures.toSeq)},""" +
      s""""info":${info.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")},""" +
      s""""end_to_end":${metricsJson(endToEnd)},""" +
      s""""per_layer":${metricsJson(layer)}}"""
  }

  /** Every layer span any workload records, in report order. */
  private val AllSpans: Seq[String] = Analytics.Spans ++ LakehouseRw.Spans

  /** Per-layer metrics of a traced run: medians over its passes of each
    * span's per-pass sums, and of the workload-wide counters. A span the
    * workload does not record reads 0. */
  private def layerMetrics(passWall: Double, writes: collection.Seq[Double],
      reads: collection.Seq[Double], peakRssMb: Double): Seq[(String, (String, Double))] = {
    import Stats._
    val slots = conf.cpus.toDouble
    val opSpans = spans.filter(_.name != "pass").toSeq
    val byPass = passes.map(p => opSpans.filter(_.pass == p.pass))
    def wall(ss: Seq[Span]) = ss.map(s => (s.end - s.start) / 1e9).sum
    def cs(ss: Seq[Span]) = ss.flatMap(s => Option(counters.get(s.id)))
    def perPass(f: Seq[Span] => Double): Double = median(byPass.map(f))
    val perSpan = AllSpans.flatMap { name =>
      def mine(ss: Seq[Span]) = ss.filter(_.name == name)
      Seq(
        s"$name.wall_s" -> ("s", perPass(ss => wall(mine(ss)))),
        s"$name.cpu_s" -> ("s", perPass(ss => cs(mine(ss)).map(_.cpuNs).sum / 1e9)),
        s"$name.tasks" -> ("count", perPass(ss => cs(mine(ss)).map(_.tasks).sum.toDouble)),
        s"$name.shuffle_write_mb" -> ("MB",
          perPass(ss => cs(mine(ss)).map(_.shuffleWrite).sum / 1e6)),
        s"$name.driver_s" -> ("s", perPass(ss =>
          wall(mine(ss)) - cs(mine(ss)).map(_.runMs).sum / 1e3 / slots)))
    }
    val byName = extras.groupBy(_._1).map { case (k, vs) => k -> median(vs.map(_._2)) }
    def extra(n: String) = byName.getOrElse(n, 0.0)
    val attempted = (ops.size + checksMade).toDouble
    perSpan ++ Seq(
      "gc_s" -> ("s", perPass(ss => cs(ss).map(_.gcMs).sum / 1e3)),
      "spill_mb" -> ("MB", perPass(ss => cs(ss).map(_.spill).sum / 1e6)),
      "input_mb" -> ("MB", perPass(ss => cs(ss).map(_.inBytes).sum / 1e6)),
      "output_mb" -> ("MB", perPass(ss => cs(ss).map(_.outBytes).sum / 1e6)),
      "sources.connectorPlan.read_kb" -> ("KB", extra("sources.connectorPlan.read_kb")),
      "ops.Versioned.files_written" -> ("count", extra("ops.Versioned.files_written")),
      "space_amp" -> ("ratio", extra("space_amp")),
      "glue_s" -> ("s", median(passes.zip(byPass).map { case (p, ss) => p.wallS - wall(ss) })),
      "cache_left_mb" -> ("MB", median(passes.map(_.cacheLeftMb))),
      "error_rate" -> ("ratio", failures.size / attempted),
      "traced_pass_s" -> ("s", passWall),
      "write_p50_s" -> ("s", quantile(writes, 0.5)),
      "read_p50_s" -> ("s", quantile(reads, 0.5)),
      "write_p90_s" -> ("s", quantile(writes, 0.9)),
      "read_p90_s" -> ("s", quantile(reads, 0.9)),
      "peak_rss_mb" -> ("MB", peakRssMb))
  }

  def traceJson: String = {
    val rows = spans.map { s =>
      val c = Option(counters.get(s.id))
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start":${Json.num(s.start / 1e9)},"end":${Json.num(s.end / 1e9)},""" +
        s""""workload":"${s.workload}","pass":${s.pass}""" +
        c.map(c => s""","cpu_s":${Json.num(c.cpuNs / 1e9)},"tasks":${c.tasks},""" +
          s""""run_s":${Json.num(c.runMs / 1e3)},"gc_s":${Json.num(c.gcMs / 1e3)},""" +
          s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
          s""""input_bytes":${c.inBytes},"output_bytes":${c.outBytes}""").getOrElse("") +
        "}"
    }
    s"""{"workload":"${conf.workload}","seed":${conf.seed},"spans":[""" +
      rows.mkString(",\n") + "]}"
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile (the "inclusive" method). */
  def quantile(xs: scala.collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}

/** Whole-directory helpers for inputs, pass copies and outputs. */
object Dirs {
  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }

  def copyRecursively(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Total bytes of the files under `root`. */
  def bytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Paths of the files under `root`, relative to it. */
  def files(root: Path): Set[String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet
    finally s.close()
  }
}
