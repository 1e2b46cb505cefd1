package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: one workload, one closed-loop client.
 *
 *   --workload query_mix|etl_cycle  --input <generated dir>
 *   --work <scratch dir>  --out <result json>  --seconds <n>  --trace 0|1
 *   --t0 <epoch ms set-up started, just before the JVM launch>  --warm-rounds <n>
 *   [--queries a,b,...]
 *
 * Set-up is the session, the workload's landing and `warm-rounds`
 * untimed rounds. The timed phase then runs whole rounds until
 * `seconds` have passed.
 * Outputs for the checker are written afterwards, never alongside the
 * timed ops. Traced runs add listeners, spans and per-round layer
 * probes; their numbers are per-layer only.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val (input, work, seconds) = (opt("input"), opt("work"), opt("seconds").toDouble)
    val traced = opt.get("trace").contains("1")
    val t0Ms = opt("t0").toLong
    val cores = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (traced) builder.config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    val spark = builder.getOrCreate()
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    spark.sparkContext.setLogLevel("ERROR")

    val spans = new Spans(traced)
    val counters = if (traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    } else None

    val w: Workload = workload match {
      case "query_mix" =>
        new QueryMix(spark, input, opt("queries").split(",").toSeq, spans, counters)
      case "etl_cycle" => new EtlCycle(spark, input, work, spans)
      case other => sys.error(s"unknown workload $other")
    }

    final case class Done(op: String, seconds: Double, steps: Seq[(String, Double)],
                          error: Option[String])
    val opBytes = ArrayBuffer.empty[Double] // traced: cached bytes after each op
    var opIndex = 0
    def runRound(): Seq[Done] = w.round.map { op =>
      val steps = new Steps(spans)
      spans.op = opIndex
      val t = System.nanoTime()
      val error = try { spans("op")(op.body(steps)); None }
        catch { case e: Throwable => Some(s"${op.name}: $e") }
      val d = Done(op.name, (System.nanoTime() - t) / 1e9, steps.times.toSeq, error)
      spans.op = -1
      opIndex += 1
      if (traced) opBytes += storedBytes(spark)
      d
    }

    // ---- set-up: landing, then a fixed number of warm-up rounds
    val landStart = System.nanoTime()
    spans("land")(w.land())
    val landS = (System.nanoTime() - landStart) / 1e9
    val warmTimes = (1 to opt("warm-rounds").toInt).map(_ => runRound())
    val warmOps = opIndex
    val firstOpMs = System.currentTimeMillis()
    val setupS = (firstOpMs - t0Ms) / 1000.0
    if (traced) opBytes.clear()

    // ---- timed phase: whole rounds, closed loop
    val timed = ArrayBuffer.empty[Done]
    val start = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      timed ++= runRound()
      rounds += 1
      if (traced) w.probe()
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val heap = liveHeap()
    val releaseS = spans("caches.release") {
      val t = System.nanoTime(); graft.Caches.releaseAll(); (System.nanoTime() - t) / 1e9
    }

    // ---- outputs for the checker
    val out = s"$work/out"
    Files.createDirectories(Paths.get(out))
    val checkStart = System.nanoTime()
    val checkFields = w.check(out)
    val checkS = (System.nanoTime() - checkStart) / 1e9

    // per-layer numbers cover the timed ops and the probes, not the warm-up
    val layers = counters.map { c =>
      c.drain()
      Layers.compute(spans.all.filter(s => s.op < 0 || s.op >= warmOps), c, cores,
        timed.map(d => d.op -> d.steps).toSeq, opBytes.toSeq, releaseS) ++ w.layerValues
    }
    val doneJson = timed.map(d => Json.obj(Seq(
      "op" -> Json.str(d.op), "s" -> Json.num(d.seconds),
      "steps" -> Json.obj(d.steps.map { case (k, v) => k -> Json.num(v) }),
      "error" -> d.error.map(Json.str).getOrElse("null"))))
    val fields = Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_s" -> Json.num(setupS),
      "warm_round_s" -> Json.arr(warmTimes.map(r => Json.num(r.map(_.seconds).sum))),
      "warm_ops" -> Json.arr(warmTimes.flatten.map(d => Json.arr(Seq(Json.str(d.op), Json.num(d.seconds))))),
      "land_s" -> Json.num(landS),
      "session_s" -> Json.num(sessionS),
      "rounds" -> rounds.toString,
      "timed_s" -> Json.num(timedS),
      "check_s" -> Json.num(checkS),
      "live_heap_bytes" -> heap.toString,
      "ops" -> Json.arr(doneJson.toSeq)) ++ checkFields ++
      layers.map(l => "layers" -> Json.obj(l.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })) ++
      (if (traced) Seq("spans" -> Json.arr(spans.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ms" -> s.startMs.toString,
        "s" -> Json.num(s.seconds)))))) else Nil)
    Files.writeString(Paths.get(opt("out")), Json.obj(fields))
    spark.stop()
  }

  /** Heap in use after full collections: what the session keeps live,
    * persisted frames included. */
  def liveHeap(): Long = {
    val mx = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed
  }

  /** Bytes of cached blocks (memory and disk) in the block manager. */
  def storedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}

/** Per-layer numbers of a traced run: each is the median over the timed
  * ops (or over rounds, for the between-round probes). A metric whose
  * layer left no span, probe or phase in the run is absent, not 0, so
  * the caller can tell a layer that does not run from one that read 0. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def compute(spans: Seq[Span], c: SparkCounters, cores: Int,
              opSteps: Seq[(String, Seq[(String, Double)])], opBytes: Seq[Double],
              endReleaseS: Double): Map[String, Double] = {
    val ops = spans.filter(_.name == "op").sortBy(_.op)
    def within(op: Span, name: String) = spans.filter(s => s.op == op.op && s.name == name)
    def perOp(f: Span => Double): Double = median(ops.map(f))
    def inOps(name: String): Boolean = spans.exists(s => s.op >= 0 && s.name == name)
    def spanS(name: String): Option[Double] =
      Option.when(inOps(name))(perOp(op => within(op, name).map(_.seconds).sum))
    def spanJobs(name: String): Option[Double] =
      Option.when(inOps(name))(perOp(op => within(op, name).map(c.jobsIn).sum.toDouble))
    def probe(name: String): Seq[Span] = spans.filter(s => s.op < 0 && s.name == name)
    def probeMedian(name: String)(f: Span => Double): Option[Double] =
      Option.when(probe(name).nonEmpty)(median(probe(name).map(f)))
    def probeS(name: String): Option[Double] = probeMedian(name)(_.seconds)
    def tasks(op: Span) = c.tasksIn(op)
    def taskSum(f: c.Task => Double): Double = perOp(op => tasks(op).map(f).sum)

    /** Op wall time during which no task of the op was running. */
    def idle(op: Span): Double = {
      val iv = tasks(op).map(t => (t.launch max op.startMs, t.finish min op.endMs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = op.startMs
      iv.foreach { case (a, b) =>
        if (b > end) { covered += b - (a max end); end = b }
      }
      (op.seconds - covered / 1000.0) max 0.0
    }
    def phase(name: String): Option[Double] =
      Option.when(ops.exists(op => c.phasesIn(op).exists(_.name == name)))(
        perOp(op => c.phasesIn(op).filter(_.name == name).map(_.ms).sum / 1000.0))

    val steps = opSteps.flatMap(_._2).groupBy(_._1).map { case (k, v) =>
      s"step.${k}_s" -> median(v.map(_._2))
    }
    // the layers every op runs through
    val always = Map(
      "scheduler.jobs" -> perOp(c.jobsIn(_).toDouble),
      "scheduler.stages" -> perOp(c.stagesIn(_).toDouble),
      "scheduler.tasks" -> perOp(tasks(_).size.toDouble),
      "scheduler.idle_s" -> perOp(idle),
      "scheduler.busy_ratio" -> perOp(op =>
        tasks(op).map(_.runMs).sum / 1000.0 / (cores * op.seconds)),
      "execution.run_s" -> taskSum(_.runMs / 1000.0),
      "execution.cpu_s" -> taskSum(_.cpuNs / 1e9),
      "execution.gc_s" -> taskSum(_.gcMs / 1000.0),
      "execution.input_bytes" -> taskSum(_.inBytes.toDouble),
      "execution.shuffle_write_bytes" -> taskSum(_.shuffleWrite.toDouble),
      "execution.shuffle_read_bytes" -> taskSum(_.shuffleRead.toDouble),
      "execution.spill_bytes" -> taskSum(_.spill.toDouble),
      "execution.output_bytes" -> taskSum(_.outBytes.toDouble),
      "caches.release_s" -> endReleaseS,
      "storage.persisted_bytes" -> median(opBytes),
      "trace.op_p50_s" -> perOp(_.seconds))
    // the layers only some workloads run through
    val ifRan = Seq(
      "sources.resolve_s" -> probeS("sources.resolve"),
      "sources.resolve_jobs" -> probeMedian("sources.resolve")(c.jobsIn(_).toDouble),
      "queries.build_s" -> spanS("queries.build"),
      "queries.build_jobs" -> spanJobs("queries.build"),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "marketpulse.fetch_s" -> probeS("marketpulse.fetch"),
      "marketpulse.ingest_s" -> probeS("marketpulse.ingest"),
      "marketpulse.merge_s" -> probeS("marketpulse.merge"),
      "marketpulse.sink_s" -> probeS("marketpulse.sink"),
      "marketpulse.dag_s" -> spanS("marketpulse.dag"),
      "marketpulse.dag_jobs" -> spanJobs("marketpulse.dag"),
      "marketpulse.materialize_s" -> spanS("marketpulse.materialize"),
      "marketpulse.materialize_jobs" -> spanJobs("marketpulse.materialize"),
      "quality.suite_s" -> spanS("quality.suite"),
      "quality.suite_jobs" -> spanJobs("quality.suite"))
    always ++ ifRan.collect { case (k, Some(v)) => k -> v } ++ steps
  }
}
