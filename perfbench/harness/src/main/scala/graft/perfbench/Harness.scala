package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, U}

/** The benchmark's JVM side: one closed-loop client running a workload's
  * query list in sequence through the program's public entry points.
  *
  *   Harness <dataDir> <outDir> <seconds> <trace 0|1> <q1,q2,...>
  *
  * 1. Set-up, [[Setups]] times: a fresh `local[4]` session plus the shared
  *    index builds (`warm*` hooks) the listed queries consume; timed in wall
  *    and in CPU of the work (see [[WorkCpu]]).
  * 2. One cold pass over the list, then a full GC whose surviving heap is
  *    the run's live heap. A timed execution is the query body plus a write
  *    of every output column to Spark's `noop` sink; the result-hash checks
  *    between executions are not timed.
  * 3. Untimed, one more execution per query, which also warms the JIT up:
  *    results with a DuckDB oracle go to `<outDir>/results/<name>` for the
  *    oracle check; the others are hashed after every pass and must hash
  *    the same each time.
  * 4. Whole warm passes until `seconds` have passed.
  *
  * With trace 1 the cold pass and every other warm pass run traced
  * (listeners, spans, bus drained per query), at least two of them warm; the
  * untraced passes in between give the tracing overhead. Everything lands in
  * `<outDir>/harness.json` and `<outDir>/spans.json`. */
object Harness {
  type Hook = (SparkSession, String) => Unit

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  /** The shared-index builds the workloads consume, each with the
    * query-name prefixes that consume it (the gating `graft.Bench` uses).
    * A hook joins this table together with a workload query that needs it. */
  val hooks: Seq[(String, Seq[String], Hook)] = Seq(
    ("multimodal", Seq("multimodal_phash"), graft.llm.Multimodal.warm _))

  private def nowMs: Double = System.currentTimeMillis().toDouble
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Waits, untimed, until the JIT has compiled what earlier work queued
    * (total compilation time unchanged over 200 ms; at most 10 s), so that
    * a pass does not start behind a compile backlog whose size depends on
    * how busy the host was. Returns the wait in ms. */
  private def jitSettle(): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    var now = jit.getTotalCompilationTime
    while (now != last && msSince(t0) < 10000) {
      Thread.sleep(200)
      last = now
      now = jit.getTotalCompilationTime
    }
    msSince(t0)
  }

  private def session(outDir: String): SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One timed execution: wall time, and the CPU time of the work itself
    * (every thread of the process but the JIT and GC threads, see
    * [[WorkCpu]]). */
  final case class Exec(name: String, ms: Double, cpuMs: Double, ok: Boolean)
  final case class Pass(idx: Int, traced: Boolean, wallMs: Double,
      execs: Seq[Exec], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, secondsArg, traceArg, queryArg) = args
    val traceOn = traceArg == "1"
    val names = queryArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val active = hooks.filter { case (_, prefixes, _) =>
      prefixes.exists(p => names.exists(_.startsWith(p))) }
    val host0 = Host.sample()
    val tracer = new Tracer
    val wlSpan = tracer.start(0, "workload", queryArg.take(60), nowMs)

    // 1. set-up, repeated; each builds a new session, so every shared index
    // (cached per session) is built again
    var spark: SparkSession = null
    val setups = (1 to Setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val cpu0 = WorkCpu.read()
      val sp = tracer.start(wlSpan, "setup", s"setup $k", nowMs)
      spark = session(outDir)
      val hookMs = active.map { case (n, _, f) =>
        val t = System.nanoTime()
        val s0 = nowMs
        f(spark, dataDir)
        tracer.span(sp, "index", n, s0, nowMs)
        System.err.println(f"[perfbench] setup $k: $n ${msSince(t)}%.0f ms")
        n -> msSince(t)
      }
      tracer.finish(sp, nowMs)
      val wallS = msSince(t0) / 1e3
      PerfbenchBus.drain(spark.sparkContext)
      val cpuS = WorkCpu.ns(cpu0, WorkCpu.read()) / 1e9
      (wallS, cpuS, hookMs.toMap)
    }
    val sc = spark.sparkContext
    val cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (traceOn) tracer.install(spark)

    val failures = mutable.ArrayBuffer[(String, Int, String)]()
    val hashes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
    def hashCheck(name: String): Unit = if (!oracle.contains(name)) {
      val h = try Host.digest(registry(name)(spark, dataDir).collect().map(_.toString))
        catch { case e: Throwable => s"error: $e" }
      U.releaseTracked()
      hashes.getOrElseUpdate(name, mutable.ArrayBuffer()) += h
    }

    // 2. and 4. timed passes
    def runPass(idx: Int, traced: Boolean): Pass = {
      val settleMs = jitSettle()
      val passSpan = tracer.start(wlSpan, "pass", s"pass $idx", nowMs)
      val t0 = System.nanoTime()
      var hashMs = 0.0
      val layers = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val batches = mutable.ArrayBuffer[Double]()
      val execs = names.map { name =>
        val qs = if (traced) new QueryStats(name, tracer.start(passSpan, "query", name, nowMs))
                 else null
        val jvm0 = if (traced) JvmCounters.sample() else Map.empty[String, Double]
        if (traced) tracer.begin(sc, s"$idx/$name", qs)
        PerfbenchBus.drain(sc)
        val cpu0 = WorkCpu.read()
        val w0 = nowMs
        val q0 = System.nanoTime()
        var bodyMs, actionMs = 0.0
        val ok = try {
          val df = registry(name)(spark, dataDir)
          bodyMs = msSince(q0)
          val a0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          actionMs = msSince(a0)
          true
        } catch { case e: Throwable =>
          failures += ((name, idx, e.toString.take(500)))
          System.err.println(s"[perfbench] $name failed in pass $idx: $e")
          false
        }
        val latencyMs = msSince(q0)
        // the bus delivers the query's events before its CPU is read
        PerfbenchBus.drain(sc)
        val cpuMs = WorkCpu.ns(cpu0, WorkCpu.read()) / 1e6
        val r0 = System.nanoTime()
        U.releaseTracked()
        val releaseMs = msSince(r0)
        if (traced) {
          tracer.end(sc)
          val wallMs = latencyMs + releaseMs
          tracer.span(qs.spanId, "body", "body", w0, w0 + bodyMs)
          tracer.span(qs.spanId, "exec", "exec", w0 + bodyMs, w0 + bodyMs + actionMs)
          tracer.span(qs.spanId, "release", "release", w0 + latencyMs, w0 + wallMs)
          tracer.finish(qs.spanId, w0 + wallMs)
          val jvm1 = JvmCounters.sample()
          jvm1.foreach { case (k, v) => qs.add(k, v - jvm0(k)) }
          // self time of each layer, from spans measured apart: entry is the
          // body less the SQL executions it ran eagerly, plus the release;
          // plan is the executions' Catalyst phases; exec is the Spark jobs
          // outside those. What none of them covers (driver work outside
          // any plan phase or job) is the query span's uncovered time.
          val q = Seq((w0, w0 + wallMs))
          val entry = Intervals.union(Intervals.minus(Seq((w0, w0 + bodyMs)), qs.executions.toSeq) :+
            ((w0 + latencyMs, w0 + wallMs)))
          val plan = Intervals.minus(Intervals.clip(qs.plans.toSeq, q), entry)
          val exec = Intervals.minus(Intervals.clip(qs.jobs.toSeq, q), entry ++ plan)
          qs.add("entry.body_ms", bodyMs)
          qs.add("entry.release_ms", releaseMs)
          qs.add("self.entry_ms", Intervals.length(entry))
          qs.add("self.plan_ms", Intervals.length(plan))
          qs.add("self.exec_ms", Intervals.length(exec))
          qs.add("query.wall_ms", wallMs)
          qs.add("sched.between_stage_ms", Host.gaps(qs.stageIntervals.toSeq))
          qs.add("entry.results", if (ok) 1 else 0)
          qs.c.foreach { case (k, v) => layers(k) += v }
          batches ++= qs.batchMs
        }
        val h0 = System.nanoTime()
        hashCheck(name)
        hashMs += msSince(h0)
        Exec(name, latencyMs, cpuMs, ok)
      }
      tracer.finish(passSpan, nowMs)
      System.err.println(f"[perfbench] pass $idx (JIT settled in $settleMs%.0f ms): ${msSince(t0)}%.0f ms " +
        execs.map(e => f"${e.name}=${e.ms}%.0f").mkString(" "))
      if (batches.nonEmpty) layers("stream.batch_p50_ms") = Host.pct(batches.toSeq, 0.5)
      Pass(idx, traced, msSince(t0) - hashMs, execs, layers.toMap)
    }

    val cold = runPass(0, traceOn)
    // what the set-up and one pass over the list leave live on the heap; the
    // second GC follows the ContextCleaner's removal of the broadcasts,
    // shuffles and RDDs that the first one found unreachable
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveHeapMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // 3. the results for the oracle check, untimed; this pass is also the
    // warm-up: the second execution of a query still ran 30-45% above the
    // later ones (JIT tiering), far more than they vary among themselves
    val resultFailures = mutable.ArrayBuffer[(String, String)]()
    val r0 = System.nanoTime()
    names.foreach { name =>
      if (oracle.contains(name))
        try registry(name)(spark, dataDir).write.mode("overwrite")
          .parquet(s"$outDir/results/$name")
        catch { case e: Throwable => resultFailures += ((name, e.toString.take(500))) }
        finally U.releaseTracked()
      else hashCheck(name)
    }
    System.err.println(f"[perfbench] result pass: ${msSince(r0)}%.0f ms")

    // 4. warm passes: whole passes, so every run measures the same mix of
    // queries; traced runs alternate traced and untraced passes, at least
    // two traced ones so that their exact counts can be compared
    val end = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    val warm = mutable.ArrayBuffer[Pass]()
    while (warm.size < (if (traceOn) 3 else 1) || System.nanoTime() < end)
      warm += runPass(warm.size + 1, traceOn && warm.size % 2 == 0)
    tracer.finish(wlSpan, nowMs)
    val host1 = Host.sample()
    val peakRssMb = Host.peakRssMb()
    spark.stop()

    import Json._
    val passJson = (Seq(cold) ++ warm).map { p => obj(
      "idx" -> p.idx, "traced" -> p.traced, "wall_ms" -> p.wallMs,
      "queries" -> arr(p.execs.map(e =>
        obj("name" -> e.name, "ms" -> e.ms, "cpu_ms" -> e.cpuMs, "ok" -> e.ok))),
      "layers" -> obj(p.layers.toSeq: _*)) }
    val out = obj(
      "setups" -> arr(setups.map { case (s, c, h) =>
        obj("s" -> s, "cpu_s" -> c, "hooks_ms" -> obj(h.toSeq: _*)) }),
      "cached_bytes" -> cachedBytes,
      "passes" -> arr(passJson),
      "failures" -> arr(failures.toSeq.map { case (n, i, e) => obj("name" -> n, "pass" -> i, "error" -> e) }),
      "result_failures" -> arr(resultFailures.toSeq.map { case (n, e) => obj("name" -> n, "error" -> e) }),
      "hashes" -> obj(hashes.toSeq.map { case (n, hs) => n -> arr(hs.toSeq) }: _*),
      "oracle_sql" -> obj(names.filter(oracle.contains).map(n => n -> oracle(n)): _*),
      "peak_rss_mb" -> peakRssMb,
      "live_heap_mb" -> liveHeapMb,
      "cpu_excluded_threads" -> arr(WorkCpu.excludedThreads()),
      "cpu_tick_intervals" -> WorkCpu.tickIntervals,
      "host" -> Host.delta(host0, host1))
    Files.writeString(Paths.get(s"$outDir/harness.json"), out.s, UTF_8)
    if (traceOn) Files.writeString(Paths.get(s"$outDir/spans.json"), arr(tracer.allSpans.map { s =>
      obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) }).s, UTF_8)
  }
}

/** CPU time of the work: every thread of the process, threads that have
  * ended included, less HotSpot's JIT compiler and sweeper threads, its GC
  * worker, marking and refinement threads and the VM thread that runs GC
  * pauses. So it counts the client thread, the task threads, and the
  * driver's other threads: the scheduler event loop, the listener bus,
  * broadcast builds and streaming micro-batch threads.
  *
  * The threads it counts are exactly the JVM's visible Java threads. While
  * none of them ends, their summed CPU time is read from the JVM in ns. An
  * interval in which one ends is read instead from /proc in clock ticks
  * (`-Dperfbench.clk_tck`, 100 by default): the process total less the
  * excluded threads, which the JVM keeps alive (compiler threads with
  * `-XX:-UseDynamicNumberOfCompilerThreads`), so their CPU never passes into
  * the process total uncounted. */
object WorkCpu {
  final case class Reading(ticksNs: Long, threads: Map[Long, Long], started: Long)

  private val mx = ManagementFactory.getThreadMXBean
  private val nsPerTick = 1e9 / sys.props.getOrElse("perfbench.clk_tck", "100").toDouble
  private val excludedName = "^(C[12] CompilerThre|Sweeper thread|GC Thread#|G1 |VM Thread)".r
  private val task = Paths.get("/proc/self/task")
  private val excluded = mutable.Map[String, Boolean]()  // tid -> JIT or GC
  @volatile var tickIntervals = 0  // intervals read from /proc

  /** utime + stime of a /proc stat line, in ticks */
  private def ticks(path: java.nio.file.Path): Long =
    try {
      val f = Files.readString(path)
      val x = f.substring(f.lastIndexOf(')') + 2).split(' ')
      x(11).toLong + x(12).toLong
    } catch { case _: java.io.IOException => 0L }  // the thread has ended

  private def procNs(): Long = synchronized {
    val tids = Files.list(task)
    val jitGc = try tids.iterator.asScala.map { t =>
      val tid = t.getFileName.toString
      if (excluded.getOrElseUpdate(tid, excludedName.findPrefixOf(
          Try(Files.readString(t.resolve("comm"))).getOrElse("")).nonEmpty))
        ticks(t.resolve("stat")) else 0L
    }.sum finally tids.close()
    ((ticks(Paths.get("/proc/self/stat")) - jitGc) * nsPerTick).toLong
  }

  def read(): Reading = {
    val started = mx.getTotalStartedThreadCount
    val ids = mx.getAllThreadIds
    val cpu = ids.map(mx.getThreadCpuTime)
    Reading(procNs(), ids.zip(cpu).filter(_._2 >= 0).toMap, started)
  }

  /** Work CPU between two readings, in ns. */
  def ns(a: Reading, b: Reading): Long = {
    val born = b.threads.keySet -- a.threads.keySet
    val noneEnded = a.threads.keySet.subsetOf(b.threads.keySet) &&
      b.started - a.started == born.size
    if (noneEnded) b.threads.map { case (id, c) => c - a.threads.getOrElse(id, 0L) }.sum
    else { tickIntervals += 1; b.ticksNs - a.ticksNs }
  }

  /** The comm names of the excluded threads, for the run's log. */
  def excludedThreads(): Seq[String] = synchronized {
    excluded.collect { case (tid, true) =>
      Try(Files.readString(task.resolve(tid).resolve("comm")).trim).getOrElse(s"$tid (ended)") }
      .toSeq.sorted
  }
}

/** Interval arithmetic over (start, end) pairs, for span coverage. */
object Intervals {
  type Iv = Seq[(Double, Double)]
  def union(xs: Iv): Iv = xs.filter { case (s, e) => e > s }.sortBy(_._1)
    .foldLeft(List.empty[(Double, Double)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  def length(xs: Iv): Double = union(xs).map { case (s, e) => e - s }.sum
  def clip(xs: Iv, to: Iv): Iv =
    for ((s, e) <- union(xs); (a, b) <- union(to) if math.min(e, b) > math.max(s, a))
      yield (math.max(s, a), math.min(e, b))
  /** the parts of `xs` outside `ys` */
  def minus(xs: Iv, ys: Iv): Iv = union(xs).flatMap { case (s, e) =>
    val cut = clip(ys, Seq((s, e)))
    val bounds = s +: cut.flatMap { case (a, b) => Seq(a, b) } :+ e
    bounds.grouped(2).collect { case Seq(a, b) if b > a => (a, b) }.toSeq
  }
}

/** Host readings and small numeric helpers. */
object Host {
  private def read(p: String): String =
    try Files.readString(Paths.get(p)) catch { case _: Throwable => "" }

  /** (1-minute load, stolen jiffies, all jiffies) from /proc, the readings
    * `graft.Bench` takes; -1 where the platform has no /proc. */
  def sample(): (Double, Long, Long) = {
    val load = read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val cpu = read("/proc/stat").linesIterator.nextOption()
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    (load, cpu.lift(7).getOrElse(-1L), if (cpu.isEmpty) -1L else cpu.sum)
  }

  def delta(a: (Double, Long, Long), b: (Double, Long, Long)): Json.Raw = {
    val total = b._3 - a._3
    val steal = if (a._2 < 0 || total <= 0) -1.0 else 100.0 * (b._2 - a._2) / total
    Json.obj("load1_start" -> a._1, "load1_end" -> b._1, "steal_pct" -> steal)
  }

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Driver time between stages: the gaps in the union of stage intervals. */
  def gaps(intervals: Seq[(Long, Long)]): Double = {
    var end = Long.MinValue
    var sum = 0L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (end != Long.MinValue && s > end) sum += s - end
      end = math.max(end, e)
    }
    sum.toDouble
  }

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
}

/** Just enough JSON writing for the harness output. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(s: String) { override def toString: String = s }
  def str(s: String): Raw = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  private def value(v: Any): String = v match {
    case s: String => str(s).s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
}
