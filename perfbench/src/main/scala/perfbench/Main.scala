package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.io.Source

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --dir <scratch dir> --out <record dir>
  *                [--scale full|tiny] [--corrupt-expected]
  * }}}
  *
  * Set-up (session, three repetitions of the workload's input build, a
  * fixed number of warm-up ops) is followed by an untraced closed loop of `--seconds`. With
  * `--trace 1` a traced loop of the same length follows, with the listeners
  * registered and each layer call in its own materialized span. Every op is
  * then checked against a plain-Spark reference. The last stdout line is
  * one JSON object: the end-to-end metrics untraced, the per-layer metrics
  * traced. A full named record goes to `--out`.
  */
object Main {

  /** End-to-end metrics of the result line: name -> unit. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_p50_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** End-to-end metrics printed and recorded but kept out of the result
    * line: a run has 14 to 21 ops, too few for a percentile above the
    * median with ten ops beyond it, and the maximum it falls back to is
    * too noisy to bound.
    */
  val reportedOnly: Seq[(String, String)] = Seq("op_tail_s" -> "s")

  /** Per-layer metrics: name -> unit. Every traced run reports all of them;
    * a layer the workload does not call reads 0 with n = 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "io.read_s" -> "s", "io.read_rows_per_s" -> "rows/s", "io.read_tasks" -> "count",
    "io.write_s" -> "s", "io.write_rows_per_s" -> "rows/s", "io.write_tasks" -> "count",
    "io.write_jobs_per_call" -> "count",
    "ops.matchmerge_s" -> "s", "ops.recode_s" -> "s", "ops.factorise_s" -> "s",
    "ops.factorise_jobs" -> "count", "ops.nalocf_s" -> "s", "ops.nalocf_jobs" -> "count",
    "ext.dedup.signature_s" -> "s", "ext.dedup.pairs_s" -> "s",
    "ext.dedup.antijoin_s" -> "s", "ext.dedup.candidate_pairs" -> "count",
    "ext.dedup.verified_pairs" -> "count", "ext.dedup.pair_yield" -> "1",
    "ext.dedup.state_load_s" -> "s", "ext.dedup.state_save_s" -> "s",
    "ext.dedup.state_rows" -> "count",
    "expressions.signature_rows_per_core_s" -> "rows/s",
    "streaming.batches" -> "count", "streaming.add_batch_s_p50" -> "s",
    "streaming.machinery_s_p50" -> "s", "streaming.jobs_per_batch" -> "count",
    "streaming.collapse_batch_s_p50" -> "s",
    "session.jobs" -> "count", "session.stages" -> "count", "session.tasks" -> "count",
    "session.executor_cpu_s" -> "s", "session.executor_run_s" -> "s",
    "session.gc_s" -> "s", "session.shuffle_read_bytes" -> "bytes",
    "session.shuffle_write_bytes" -> "bytes", "session.spill_bytes" -> "bytes",
    "session.driver_gap_s" -> "s", "session.core_util" -> "1",
    "session.sql_actions" -> "count",
    "trace.overhead_ratio" -> "1")

  val workloads: Seq[String] =
    Seq("jdbc_etl", "increment_stream")

  private val setupReps = 3

  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val flags = Set("--corrupt-expected")
    def parse(rest: List[String]): Map[String, String] = rest match {
      case f :: tail if flags(f) => parse(tail) + (f.drop(2) -> "true")
      case k :: v :: tail if k.startsWith("--") => parse(tail) + (k.drop(2) -> v)
      case Nil => Map.empty
      case other => sys.error(s"cannot parse arguments at ${other.mkString(" ")}")
    }
    val opts = parse(args.toList)
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(workloads.contains(workload),
      s"unknown workload $workload; known: ${workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dir = need("dir")
    val out = need("out")
    val sizes = opts.getOrElse("scale", "full") match {
      case "full" => Sizes.full
      case "tiny" => Sizes.tiny
      case s => sys.error(s"unknown scale $s")
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core stays free for the driver thread, the JIT and GC
    val cores = math.max(1, math.min(4, nproc) - 1)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val loadBefore = loadAvg()
    Files.createDirectories(Paths.get(dir))
    System.setProperty("derby.system.home", dir)
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")

    val spark = GraftSession.local(cores, "perfbench")
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val tracer = new Tracer(spark)
      val ctx = new Ctx(spark, seed, dir, cores, sizes, opts.contains("corrupt-expected"), tracer)
      val wl: Workload = workload match {
        case "jdbc_etl" => new JdbcEtl(ctx)
        case "increment_stream" => new IncrementStream(ctx)
      }
      if (workload == "increment_stream") spark.streams.addListener(tracer.streamListener)

      val repS = (0 until setupReps).map(r => timed(wl.fixture(r)))
      val warmS = timed(wl.warmup())
      val setupOnceS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val setupS = sessionS + Stats.quantile(repS, 0.5) + warmS

      val cpu0 = cpuTicks()
      val ph = wl.phase(seconds, traced = false)
      val cpu1 = cpuTicks()
      val tph =
        if (!trace) None
        else {
          tracer.listen()
          val p = wl.phase(seconds, traced = true)
          tracer.drain()
          Some(p)
        }
      val attempted = ph.attempted + tph.fold(0L)(_.attempted)
      // a traced stream round can fail both of its checks; count its ops once
      val failed = math.min(wl.verify(), attempted)
      val loadAfter = loadAvg()

      val lat = ph.latencies.toSeq
      val tail = Stats.tail(lat)
      val e2e: Map[String, M] = Map(
        "setup_s" -> M(setupS, "s", setupReps, Map(
          "meaning" -> ("JVM start to session ready, plus the median of " +
            s"$setupReps input builds, plus the warm-up (${wl.warmupDescription})"),
          "jvm_to_main_s" -> mainS, "session_s" -> sessionS, "input_build_s" -> repS,
          "warmup_s" -> warmS,
          "process_start_to_first_op_s" -> setupOnceS)),
        "rows_per_s" -> M(if (ph.wallS > 0) ph.rows / ph.wallS else 0.0, "rows/s",
          ph.attempted, Map("rows" -> ph.rows, "wall_s" -> ph.wallS)),
        "op_p50_s" -> M(if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.5), "s", lat.size,
          Map("latencies_s" -> lat)),
        "op_tail_s" -> M(tail.fold(if (lat.isEmpty) 0.0 else lat.max)(_._2), "s", lat.size,
          Map("percentile" -> tail.fold("max (20 ops or fewer)")(t => f"p${t._1}%.1f"))),
        "peak_rss_mb" -> M(peakRssMb(), "MB", 1, Map("source" -> "VmHWM")))
      val failedRatio = if (attempted > 0) failed.toDouble / attempted else 1.0

      val layers: Map[String, M] = tph.fold(Map.empty[String, M]) { t =>
        val measured = wl.layerMetrics(t)
        val extraS = tracer.spans.filter(s => wl.tracedOnlySpans(s.name) && s.endNs > 0)
          .map(_.seconds).sum
        val overhead = M(
          if (t.attempted > 0 && ph.attempted > 0 && ph.wallS > 0)
            ((t.wallS - extraS) / t.attempted) / (ph.wallS / ph.attempted) - 1.0
          else 0.0, "1", t.attempted,
          Map("meaning" -> ("traced wall per op / untraced wall per op - 1; the " +
            "traced wall leaves out the spans of work only the traced loop runs"),
            "traced_wall_s" -> t.wallS, "traced_only_s" -> extraS,
            "traced_only_spans" -> wl.tracedOnlySpans.toSeq.sorted,
            "traced_ops" -> t.attempted,
            "untraced_wall_s" -> ph.wallS, "untraced_ops" -> ph.attempted))
        val actions = M(tracer.synchronized(tracer.sqlActions).toDouble /
          math.max(1L, t.attempted), "count", t.attempted,
          Map("meaning" -> "SQL actions reported by the QueryExecutionListener, per op"))
        perLayer.map { case (n, unit) =>
          n -> (n match {
            case "trace.overhead_ratio" => overhead
            case "session.sql_actions" => actions
            case _ => measured.getOrElse(n,
              M(0.0, unit, 0, Map("absent" -> "layer not called by this workload")))
          })
        }.toMap
      }
      // every name and unit must be the declared one
      ((endToEnd ++ reportedOnly).map { case (n, u) => (n, u, e2e) } ++
        (if (trace) perLayer.map { case (n, u) => (n, u, layers) } else Nil))
        .foreach { case (n, u, m) =>
          require(m.get(n).exists(_.unit == u), s"metric $n missing or not in $u")
        }

      val conditions = Map[String, Any](
        "local_cores" -> cores, "nproc" -> nproc,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "derby_durability" -> ("default: sync on commit (derby.system.durability=" +
          System.getProperty("derby.system.durability", "unset") + ")"),
        "loadavg_1m_before" -> loadBefore, "loadavg_1m_after" -> loadAfter,
        "cpu_steal_share_timed" -> {
          val d = cpu1.zip(cpu0).map { case (a, b) => a - b }
          if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else -1.0
        },
        "scale" -> opts.getOrElse("scale", "full"), "seconds" -> seconds,
        "loop" -> "closed, one client", "runs_discarded" -> 0)
      val record = Map[String, Any](
        "benchmark" -> "perfbench", "workload" -> workload, "seed" -> seed,
        "trace" -> trace, "conditions" -> conditions, "inputs" -> wl.inputs,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failed_ratio" -> failedRatio,
        "errors" -> (ph.errors ++ tph.fold(Seq.empty[String])(_.errors.toSeq)).take(20),
        "end_to_end" -> Map(workload -> e2e.map { case (k, m) => k -> m.toMap }),
        "per_layer" -> Map(workload -> layers.map { case (k, m) => k -> m.toMap }),
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "workload" -> workload,
          "start_ms" -> s.startMs, "wall_s" -> s.seconds, "self_s" -> tracer.selfSeconds(s),
          "counters" -> s.counters)))
      Files.createDirectories(Paths.get(out))
      val recPath = Paths.get(out, s"${workload}_seed${seed}_trace${if (trace) 1 else 0}.json")
      Files.write(recPath, Serialization.write(record).getBytes("UTF-8"))

      def show(kind: String, ms: Seq[(String, String)], vals: Map[String, M]): Unit =
        ms.foreach { case (n, _) =>
          val m = vals(n)
          val more = m.extra.get("percentile").fold("")(p => s" $p")
          println(f"[perfbench] $workload%-16s $kind%-10s $n%-38s ${m.value}%.6g ${m.unit} (n=${m.n}$more)")
        }
      show("end2end", endToEnd ++ reportedOnly, e2e)
      if (trace) show("layer", perLayer, layers)
      println(f"[perfbench] $workload%-16s end2end    failed_ratio ${failedRatio}%.4f 1 ($failed of $attempted ops)")
      (ph.errors ++ tph.fold(Seq.empty[String])(_.errors.toSeq)).take(5)
        .foreach(e => println(s"[perfbench] error: $e"))
      println(s"[perfbench] record: $recPath")

      val shown = if (trace) perLayer.map(_._1) else endToEnd.map(_._1)
      val metrics = shown.map { n =>
        val m = (if (trace) layers else e2e)(n)
        n -> Map("value" -> m.value, "unit" -> m.unit)
      }.toMap
      println(Serialization.write(Map("correct" -> (failed == 0), "attempted" -> attempted,
        "failed" -> failed, "metrics" -> metrics)))
    } finally spark.stop()
  }

  private def timed(f: => Unit): Double = {
    val t = System.nanoTime()
    f
    (System.nanoTime() - t) / 1e9
  }

  private def loadAvg(): Double =
    try {
      val s = Source.fromFile("/proc/loadavg")
      try s.mkString.split("\\s+")(0).toDouble finally s.close()
    } catch { case _: Exception => -1.0 }

  /** The machine-wide `cpu` line of /proc/stat (user .. steal ticks). */
  private def cpuTicks(): Array[Long] =
    try {
      val s = Source.fromFile("/proc/stat")
      try s.getLines().next().split("\\s+").drop(1).map(_.toLong) finally s.close()
    } catch { case _: Exception => Array.empty[Long] }

  private def peakRssMb(): Double = {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally s.close()
  }
}
