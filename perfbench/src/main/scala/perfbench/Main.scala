package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.CacheScope

/** Runs one workload at local[cores] with one client in a closed loop:
  * set up `SetupReps` times, run every operation once with its output
  * checked, then time whole passes of operations until `--seconds` have
  * gone by. Every timed result is materialised through the `noop` sink.
  * With `--trace 1`, an untimed pass first takes the operations' extra
  * counters, then the timed passes alternate between untraced and
  * traced; the traced ones record a span around every call.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *    --work DIR --out FILE [--spans FILE] [--tiny] [--corrupt]`
  */
object Main {
  val SetupReps = 5
  val MinPasses = 1
  val SettleMs = 500L
  val Workloads = Seq("pipeline", "query")

  /** Per-layer spans, in report order. */
  val Spans = Seq("io.load", "core.count", "core.compact", "serde.encode",
    "sources.docs_write", "sources.docs_read", "queries.q",
    "operators.cdc", "operators.windows", "operators.bpe_offsets",
    "operators.wordpiece_offsets", "operators.lsh_candidates",
    "operators.minhash_pairs", "operators.jaccard_pairs",
    "operators.winnow_pairs", "operators.clusters")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val sizes = if (flags("tiny")) Sizes.tiny else Sizes.full
    require(Workloads.contains(workload), s"unknown workload $workload")

    val spark = graft.core.Graft.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val gen = new Gen(spark, seed)
    val wl = workload match {
      case "pipeline" => new Composite("pipeline", Seq(
        new Ingest(spark, gen, sizes), new Tokenize(spark, gen, sizes),
        new NearDup(spark, gen, sizes)))
      case "query" => new Query(spark, gen, sizes, seed)
    }
    val result = new Runner(spark, wl, work, seed, seconds, trace,
      flags("corrupt"), opt.get("spans").map(p => s"$p.$workload.jsonl")).run()
    Files.write(Paths.get(opt("out")), result.getBytes("UTF-8"))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples above it,
    * as (percentile, value); None under eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).find(p => s.size - math.ceil(s.size * p / 100.0) >= 10)
      .map(p => (p, s(math.ceil(s.size * p / 100.0).toInt - 1)))
  }
}

final class Runner(spark: SparkSession, w: Workload, dir: String, seed: Long,
    seconds: Double, trace: Boolean, corrupt: Boolean,
    spansFile: Option[String]) {
  import Main.{median, tail}
  import Runner.{Agg, Pass, Timed}

  private val sc = spark.sparkContext
  private val os = ManagementFactory.getOperatingSystemMXBean
  private def cpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def run(): String = {
    val out = mutable.LinkedHashMap.empty[String, String]
    def put(k: String, v: Double) = out(k) = Json.num(v)
    val loadStart = os.getSystemLoadAverage
    val cpuStart = cpuS
    var attempted = 0L
    var failed = 0L
    val problems = mutable.Buffer.empty[String]

    val phases = mutable.LinkedHashMap.empty[String, Double]
    val runStart = System.nanoTime()
    def phase(name: String): Unit =
      phases(name) = (System.nanoTime() - runStart) / 1e9 - phases.values.sum
    w.prepare(s"$dir/inputs")
    val setups = (0 until Main.SetupReps).map { r =>
      val d = s"$dir/setup-$r"
      val t0 = System.nanoTime()
      w.setup(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) delete(s"$dir/setup-${r - 1}")
      s
    }

    phase("setup")
    val (checks, found) =
      try CacheScope.scoped(w.check(corrupt))
      catch { case e: Exception => (1, Seq(s"${w.name}: check failed: $e")) }
    attempted += checks
    failed += found.size
    phase("check")
    problems ++= found

    /** Run one call, counting it as an operation and a thrown exception
      * as a failed one.
      */
    def call(op: Op)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch {
        case e: Exception =>
          failed += 1
          problems += s"${w.name}: ${op.label} failed: $e"
      }
    }

    val ops = w.ops
    // counters that look at an operation's output (file listings, row
    // counts, a second encode) are taken in an untimed pass, so their
    // Spark work stays out of the timed and traced passes; the pass also
    // warms the code those passes compare
    val counters = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      for (op <- ops) call(op) {
        CacheScope.scoped(op.run())
        for ((k, v) <- op.probe())
          counters(s"${op.span}.$k") = counters.getOrElse(s"${op.span}.$k", 0.0) + v
      }
      phase("counters")
    }

    val tracer = new Tracer(sc, s"${w.name}-$seed")
    val passes = mutable.Buffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced runs alternate untraced, traced, untraced passes, so the
    // overhead compares a traced pass with untraced ones on both sides
    while (passes.size < (if (trace) 3 else Main.MinPasses) ||
        elapsed < seconds) {
      val traced = trace && passes.size % 2 == 1
      // start each pass with the previous work's garbage collected and
      // its shuffle and broadcast files cleaned up
      System.gc()
      Thread.sleep(Main.SettleMs)
      if (traced) sc.addSparkListener(tracer.listener)
      val c0 = cpuS
      val p0 = System.nanoTime()
      def runOps(): Seq[Timed] = ops.map { op =>
        val s0 = System.nanoTime()
        // scoped like a long-lived service calls operators, so their
        // caches are released and never serve a later pass
        call(op) {
          if (traced) tracer.span(op.span)(CacheScope.scoped(op.run()))
          else CacheScope.scoped(op.run())
        }
        Timed(op, (System.nanoTime() - s0) / 1e9)
      }
      val timed = if (traced) tracer.span("bench.pass")(runOps()) else runOps()
      passes += Pass(traced, (System.nanoTime() - p0) / 1e9, cpuS - c0, timed)
      if (traced) {
        org.apache.spark.graft.GraftSparkHooks.drainListenerBus(sc)
        sc.removeSparkListener(tracer.listener)
      }
    }
    phase("passes")

    val plain = passes.filterNot(_.traced).toSeq
    // end-to-end, from untraced passes
    put("setup_s", median(setups))
    put("pass_s", median(plain.map(_.wallS)))
    for ((metric, spans) <- Runner.Rates if ops.exists(o => spans(o.span)))
      put(metric, median(plain.map { p =>
        val sel = p.ops.filter(t => spans.contains(t.op.span))
        sel.map(_.op.items).sum / sel.map(_.s).sum
      }))
    if (w.name == "query") {
      val lat = plain.flatMap(_.ops.map(_.s))
      put("query_s_p50", median(lat))
      tail(lat).foreach { case (p, v) => put("query_s_tail", v); put("query_s_tail_pct", p) }
    }
    w.runCounters.foreach { case (k, v) => put(k, v) }

    // drop every result, then see what the session still holds
    System.gc()
    val retained = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    put("retained_cache_mb", retained / 1048576.0)

    val stats = tracer.spans.map { s =>
      val wk = tracer.listener.workOf(s.id)
      s -> Agg(1, s.wallS, tracer.selfS(s), tracer.driverS(s), wk.cpuNs / 1e9,
        wk.gcMs / 1e3, wk.jobs, wk.tasks, wk.shuffleWriteBytes, wk.spillBytes)
    }
    val byName = stats.groupMapReduce(_._1.name)(_._2)(_ + _)
    val layer = if (!trace) Nil else perLayer(byName, passes.toSeq) ++
      counters ++ Seq(
      "core.session.retained_cache_mb" -> retained / 1048576.0) ++
      w.runCounters.collect { case ("verify_side_bytes", v) =>
        "operators.minhash_pairs.verify_side_bytes" -> v }
    if (stats.nonEmpty) spansFile.foreach(f => writeSpans(stats, f))

    phase("report")
    val cpuSeq = plain.map(_.cpuS)
    val loadEnd = os.getSystemLoadAverage
    val host = Seq(
      "loadavg_start" -> Json.num(loadStart), "loadavg_end" -> Json.num(loadEnd),
      "process_cpu_s" -> Json.num(cpuS - cpuStart),
      "cores" -> sc.defaultParallelism.toString,
      "contended" -> ((cpuSeq.nonEmpty && cpuSeq.min > 0 &&
        cpuSeq.max / cpuSeq.min > 2.0) || loadStart > 8.0).toString)
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    obj(Seq(
      "workload" -> Json.str(w.name),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "problems" -> problems.map(Json.str).mkString("[", ", ", "]"),
      "passes" -> plain.size.toString,
      "traced_passes" -> passes.count(_.traced).toString,
      "metrics" -> obj(out),
      "per_layer" -> obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "layer_table" -> layerTable(byName, tracer.listener.workOf(-1))
        .map(Json.str).mkString("[", ", ", "]"),
      "host" -> obj(host),
      "phases_s" -> obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "dir" -> Json.str(s"$dir/setup-${Main.SetupReps - 1}")))
  }

  /** Per-layer counters averaged over the traced passes: the six every
    * span gets, and the benchmark's own gap and tracing overhead. A span
    * the workload does not call reads 0.
    */
  private def perLayer(byName: Map[String, Agg], passes: Seq[Pass])
      : Seq[(String, Double)] = {
    val n = math.max(1, passes.count(_.traced)).toDouble
    val rows = Main.Spans.flatMap { name =>
      val a = byName.getOrElse(name, Agg.Zero)
      Seq(
        s"$name.wall_s" -> a.wallS,
        s"$name.driver_s" -> a.driverS,
        s"$name.exec_cpu_s" -> a.cpuS,
        s"$name.tasks" -> a.tasks.toDouble,
        s"$name.shuffle_write_bytes" -> a.shuffleBytes.toDouble,
        s"$name.spill_bytes" -> a.spillBytes.toDouble)
    }.map { case (k, v) => k -> v / n }
    val traced = passes.filter(_.traced).map(_.wallS)
    val plain = passes.filterNot(_.traced).map(_.wallS)
    rows ++ Seq(
      "bench.gap_s" -> byName.getOrElse("bench.pass", Agg.Zero).selfS / n,
      "bench.tracing_overhead_s" -> (median(traced) - median(plain)))
  }

  /** One line per span name: calls, wall, self, driver, CPU, GC, jobs,
    * tasks, shuffle and spill, summed over the traced passes.
    */
  private def layerTable(byName: Map[String, Agg], loose: SparkWork)
      : Seq[String] = {
    if (byName.isEmpty) return Nil
    val header = f"${"span"}%-30s ${"calls"}%5s ${"wall_s"}%8s ${"self_s"}%8s " +
      f"${"driver_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s ${"jobs"}%5s ${"tasks"}%6s " +
      f"${"shuffle_MB"}%10s ${"spill_MB"}%8s"
    val lines = ("bench.pass" +: Main.Spans).flatMap(name => byName.get(name).map {
      a => f"$name%-30s ${a.calls}%5d ${a.wallS}%8.3f ${a.selfS}%8.3f " +
        f"${a.driverS}%8.3f ${a.cpuS}%8.3f ${a.gcS}%6.2f ${a.jobs}%5d " +
        f"${a.tasks}%6d ${a.shuffleBytes / 1048576.0}%10.3f " +
        f"${a.spillBytes / 1048576.0}%8.3f"
    })
    header +: lines :+ f"${"(jobs outside any span)"}%-30s ${loose.jobs}%5d jobs"
  }

  private def writeSpans(stats: Seq[(Span, Agg)], file: String): Unit = {
    val lines = stats.map { case (s, a) =>
      Seq(s""""id": ${s.id}""", s""""name": ${Json.str(s.name)}""",
        s""""parent": ${s.parent}""", s""""run_id": ${Json.str(s.runId)}""",
        s""""start_ms": ${s.startMs}""", s""""end_ms": ${s.endMs}""",
        s""""wall_s": ${Json.num(a.wallS)}""",
        s""""self_s": ${Json.num(a.selfS)}""",
        s""""driver_s": ${Json.num(a.driverS)}""",
        s""""jobs": ${a.jobs}""", s""""tasks": ${a.tasks}""",
        s""""exec_cpu_s": ${Json.num(a.cpuS)}""",
        s""""gc_s": ${Json.num(a.gcS)}""",
        s""""shuffle_write_bytes": ${a.shuffleBytes}""",
        s""""spill_bytes": ${a.spillBytes}""").mkString("{", ", ", "}")
    }
    val p = Paths.get(file)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
  }
}

object Runner {
  final case class Timed(op: Op, s: Double)
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      ops: Seq[Timed])

  /** Totals over spans: their count, times and attributed Spark work. */
  final case class Agg(calls: Int, wallS: Double, selfS: Double,
      driverS: Double, cpuS: Double, gcS: Double, jobs: Long, tasks: Long,
      shuffleBytes: Long, spillBytes: Long) {
    def +(o: Agg): Agg = Agg(calls + o.calls, wallS + o.wallS,
      selfS + o.selfS, driverS + o.driverS, cpuS + o.cpuS, gcS + o.gcS,
      jobs + o.jobs, tasks + o.tasks, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes)
  }
  object Agg {
    val Zero = Agg(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Throughput metrics: items per second over the named spans' calls. */
  val Rates: Seq[(String, Set[String])] = Seq(
    "load_rows_per_s" -> Set("io.load"),
    "compact_rows_per_s" -> Set("core.compact"),
    "docs_write_per_s" -> Set("sources.docs_write"),
    "docs_read_per_s" -> Set("sources.docs_read"),
    "segment_docs_per_s" -> Set("operators.cdc", "operators.windows"),
    "tokenize_docs_per_s" ->
      Set("operators.bpe_offsets", "operators.wordpiece_offsets"),
    "neardup_docs_per_s" -> Set("operators.lsh_candidates",
      "operators.minhash_pairs", "operators.jaccard_pairs",
      "operators.winnow_pairs"),
    "cluster_docs_per_s" -> Set("operators.clusters"))

}
