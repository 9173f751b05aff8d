package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one Spark session, one client thread.
  *
  * {{{
  * Main --workload gdx|ops_mix --seed N --seconds S --trace 0|1
  *      --work DIR --data DIR --result FILE --spans FILE
  * }}}
  * `--data` holds the ops_mix tables. With `--trace 0` the result holds
  * the end-to-end metrics. With `--trace 1` the calls of half the window
  * run untraced, then as many again traced; the result holds the
  * per-layer metrics, the self-time share of each layer and the tracing
  * overhead, and the spans go to --spans.
  */
object Main {

  final case class OpRec(id: Int, kind: String, decoded: Long, useful: Long)

  final case class Window(samples: Samples, ops: Seq[OpRec], attempted: Int, failed: Int,
      startUs: Long, endUs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = math.min(Runtime.getRuntime.availableProcessors(), 8)

    val spark = graft.Sessions.build(s"local[$cores]", cores.toString)
    val tracer = new Tracer
    val w: Workload = workload match {
      case "gdx" => new GdxSession(spark, seed, work, cores, tracer)
      case "ops_mix" => new OpsMix(spark, seed, work, cores, tracer, a("data"))
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val rng = new java.util.Random(seed)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def phase[T](name: String)(body: => T): T = {
      val r = body
      System.err.println(f"[perfbench] set-up: $name done at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
      r
    }
    val emptyJobMs = phase("session")(calibrateEmptyJob(spark))
    phase("data")(w.setup())
    val warmFailures =
      try { phase("warm-up")(w.warmup(rng)); 0 }
      catch { case NonFatal(e) => System.err.println(s"[perfbench] warm-up failed: ${e.getMessage}"); 1 }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val out =
      if (!trace) {
        val win = measure(w, rng, seconds)
        report(w, win, setupS)
        Result(win.attempted + warmFailures, win.failed + warmFailures,
          w.endToEnd(win.samples) + ("setup_s" -> setupS))
      } else {
        val plain = measure(w, rng, seconds / 2)
        val recorder = new Recorder(spark)
        resetHeapPeaks()
        recorder.start()
        tracer.enabled = true
        val traced = measure(w, rng, seconds / 2)
        val codec = w.codecProbe()
        tracer.enabled = false
        val heapMb = heapPeakMb()
        recorder.stop()
        report(w, traced, setupS)
        val layer = layerMetrics(w, tracer, recorder, traced, emptyJobMs) ++ codec ++
          overhead(w.endToEnd(plain.samples), w.endToEnd(traced.samples)) +
          ("jvm.heap_peak_mb" -> heapMb) +
          ("fail_ratio" -> (plain.failed + traced.failed).toDouble / (plain.attempted + traced.attempted))
        writeSpans(a("spans"), tracer.spans.toSeq)
        Result(plain.attempted + traced.attempted + warmFailures,
          plain.failed + traced.failed + warmFailures, layer)
      }
    spark.stop()
    val pw = new PrintWriter(new File(a("result")), "UTF-8")
    try pw.print(out.json) finally pw.close()
  }

  final case class Result(attempted: Int, failed: Int, metrics: Map[String, Double]) {
    def json: String = {
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    }
  }

  /** Median wall time of a one-task job: the fixed cost of a job. */
  private def calibrateEmptyJob(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    Stats.median((1 to 15).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** The workload's calls for a window of `seconds`, in seeded order. */
  def measure(w: Workload, rng: java.util.Random, seconds: Double): Window = {
    val samples = new Samples
    val ops = Seq.newBuilder[OpRec]
    var attempted = 0
    var failed = 0
    val t0 = Clock.nowUs
    val kinds = Iterator.continually(w.round(rng)).flatten
    val calls = w.callsFor(seconds)
    while (attempted < calls) {
      val kind = kinds.next()
      attempted += 1
      w.lastDecoded = 0L
      try {
        val secs = w.tracer.op(kind)(w.call(kind, rng))
        samples.add(kind, secs)
        ops += OpRec(w.tracer.currentOp, kind, w.lastDecoded, w.lastUseful)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $kind failed: ${e.getMessage}")
      }
    }
    Window(samples, ops.result(), attempted, failed, t0, Clock.nowUs)
  }

  /** The workload's detailed metrics, named and with units, on standard error. */
  private def report(w: Workload, win: Window, setupS: Double): Unit = {
    System.err.println(f"[perfbench] setup_s = $setupS%.3f s")
    System.err.println(f"[perfbench] fail_ratio = ${win.failed.toDouble / math.max(win.attempted, 1)}%.4f (${win.failed}/${win.attempted})")
    try w.details(win.samples).foreach { case (n, v, u) =>
      System.err.println(f"[perfbench] $n = $v%.4f $u")
    } catch { case NonFatal(e) => System.err.println(s"[perfbench] no details: ${e.getMessage}") }
  }

  private def layerMetrics(w: Workload, tracer: Tracer, rec: Recorder, win: Window,
      emptyJobMs: Double): Map[String, Double] = {
    val (jobs0, stages0, tasks0, plans0) = rec.drained()
    // the benchmark's own output checks run Spark jobs too: what starts
    // inside a check span is not the program's work and is left out
    val checks = SelfTime.union(tracer.spans.filter(_.layer == "check").map(s => (s.startUs, s.endUs)).toSeq)
    def counted(t: Long) = t >= win.startUs && t <= win.endUs && !checks.exists { case (a, b) => t >= a && t <= b }
    val jobs = jobs0.filter(j => counted(j.startUs))
    val stages = stages0.filter(s => counted(s.startUs))
    val tasks = tasks0.filter(t => counted(t.startUs))
    val plans = plans0.filter(p => p.phases.values.map(_._1).minOption.exists(counted))
    val n = math.max(win.ops.size, 1).toDouble
    val wallMs = (win.endUs - win.startUs - checks.map { case (a, b) => b - a }.sum) / 1000.0

    val opSpans = tracer.spans.filter(_.layer == "op")
    def opOf(t: Long): Option[Span] = opSpans.find(s => t >= s.startUs && t <= s.endUs)
    // Spark's spans join the benchmark's: jobs, stages and plan phases
    tracer.spans ++= jobs.filter(_.endUs > 0).flatMap(j => opOf(j.startUs).map(o =>
      Span(o.op, "job", s"job ${j.id}", j.startUs, j.endUs)))
    tracer.spans ++= stages.flatMap(s => opOf(s.startUs).map(o =>
      Span(o.op, "stage", s"stage ${s.id}.${s.attempt}", s.startUs, s.endUs)))
    tracer.spans ++= plans.flatMap(p => p.phases.toSeq.flatMap { case (ph, (s, e)) =>
      opOf(s).map(o => Span(o.op, "plan", s"${p.func} $ph", s, e))
    })

    val phaseMs = Seq("analysis", "optimization", "planning").map { ph =>
      val ds = plans.flatMap(_.phases.get(ph)).map { case (s, e) => (e - s) / 1000.0 }
      s"plan.${ph}_ms" -> (if (ds.isEmpty) 0.0 else ds.sum / ds.size)
    }

    val decoded = win.ops.map(_.decoded).sum
    val sliceOps = win.ops.filter(o => o.kind == "slice" || o.kind == "xslice")
    val sliceDecoded = sliceOps.map(_.decoded).sum
    // which op kind each plan ran under, for the scan partition counts
    val kindOf = win.ops.map(o => o.id -> o.kind).toMap
    val planKinds = plans.flatMap { p =>
      p.phases.get("planning").flatMap { case (s, _) => opOf(s) }.flatMap(o => kindOf.get(o.op)).map(_ -> p.scans)
    }

    val selfUs = SelfTime.perLayer(tracer.spans.toSeq)
    val totalUs = math.max(selfUs.values.sum, 1L).toDouble

    val actions = tracer.spans.filter(_.layer == "action").toSeq
    val perKey = OpsData.keys.flatMap { k =>
      val as = actions.filter(_.name == k)
      val js = as.map(a => jobs.count(j => j.startUs >= a.startUs && j.startUs <= a.endUs))
      Seq(s"ops.${k}_s" -> (if (as.isEmpty) 0.0 else as.map(_.durUs).sum / 1e6 / as.size),
        s"ops.${k}_jobs" -> (if (as.isEmpty) 0.0 else js.sum.toDouble / as.size))
    }

    val base = Map(
      "gdx.records_decoded" -> decoded / n,
      "gdx.useful_ratio" -> (if (sliceDecoded > 0) sliceOps.map(_.useful).sum.toDouble / sliceDecoded else 0.0),
      "sched.jobs" -> jobs.size / n,
      "sched.stages" -> stages.size / n,
      "sched.tasks" -> tasks.size / n,
      "sched.job_busy_ms" -> jobs.filter(_.endUs > 0).map(j => (j.endUs - j.startUs) / 1000.0).sum / n,
      "sched.empty_job_ms" -> emptyJobMs,
      "sched.overhead_share" -> jobs.size * emptyJobMs / wallMs,
      "exec.task_run_ms" -> tasks.map(_.runMs).sum / n,
      "exec.task_cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum / n,
      "exec.spill_bytes" -> tasks.map(_.spill).sum / n,
      "trace.spans" -> tracer.spans.size.toDouble,
      "trace.ops" -> win.ops.size.toDouble)
    val shares = SelfTime.layers.map(l => s"self.${l}_share" -> selfUs.getOrElse(l, 0L) / totalUs)
    val all = base ++ phaseMs ++ perKey ++ shares ++ w.sourceMetrics(planKinds)
    // every per-layer metric is present; a layer the workload does not
    // touch reads 0
    layerNames.map(k => k -> all.getOrElse(k, 0.0)).toMap ++ all
  }

  val layerNames: Seq[String] = Seq(
    "gdx.decode_rec_per_s", "gdx.read_rec_per_s", "gdx.records_decoded", "gdx.useful_ratio",
    "gdx.encode_rec_per_s", "gdx.bytes_per_rec",
    "sources.shards", "sources.partitions_planned", "sources.prune_ratio",
    "sources.write_shards", "sources.write_bytes")

  /** Traced minus untraced, as a share of untraced, per end-to-end metric. */
  private def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    plain.map { case (k, v) => s"trace.overhead.$k" -> (if (v != 0) (traced(k) - v) / v else 0.0) }

  private def resetHeapPeaks(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try spans.sortBy(s => (s.op, s.startUs)).foreach { s =>
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      pw.println(s"""{"op":${s.op},"layer":"${s.layer}","name":"$name","start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally pw.close()
  }
}
