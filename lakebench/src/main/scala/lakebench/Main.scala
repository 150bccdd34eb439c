package lakebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Passed to an operation's body; the body calls `returned()` as soon as
  * the public call under test has returned its DataFrame, before any
  * action runs on it. */
final class Ctx {
  var returnedNs: Long = -1L
  var returnedMs: Long = -1L
  def returned(): Unit = {
    returnedNs = System.nanoTime()
    returnedMs = System.currentTimeMillis()
  }
}

/** One timed operation: a call into one public function of `layer`.
  * The body returns whether the output check passed. */
final case class Op(cls: String, layer: String, body: Ctx => Boolean)

/** A workload: seeded inputs, a repeatable set-up, and a deterministic
  * list of operations per cycle (one cycle is the workload's unit of
  * user-visible work). There is no warm-up: cycles are measured in a
  * fresh session right after set-up, as a batch job runs them. */
trait Workload {
  /** Write the seeded inputs (untimed). */
  def generate(): Unit
  /** One timed set-up of the state the cycles run against, through the
    * program's own calls where the workload has a set-up of its own;
    * the last one's state is the one measured. */
  def setup(rep: Int): Unit
  def cycle(i: Int): Seq[Op]
  /** Called after each operation, outside its timing. */
  def afterOp(): Unit = ()
  /** Called when the traced phase starts and ends. */
  def startTracing(): Unit = ()
  def stopTracing(): Unit = ()
  /** Called at the end of the first traced cycle. */
  def snapshotCounts(): Map[String, Any] = Map.empty
  /** Workload-specific results for the output checks and the report. */
  def report(): Map[String, Any] = Map.empty
}

object Main {

  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, deadlineMs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m("deadline-ms").toLong)
  }

  /** The session settings of `graft.Bench`, on all local cores, with
    * scratch space kept under the run's work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.ext.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.geospatial.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.readPath", "v2")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, args.work)
    val result =
      try run(spark, args, cpus)
      finally spark.stop()
    Files.write(args.out, Json(result).getBytes(StandardCharsets.UTF_8))
  }

  private def run(spark: SparkSession, args: Args, cpus: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val w: Workload = args.workload match {
      case "etl_nightly" => new EtlNightly(spark, args.seed, args.work, cpus)
      case "lakehouse_commits" => new LakehouseCommits(spark, args.seed, args.work, cpus)
      case "operator_catalog" => new OperatorCatalog(spark, args.seed, args.work, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    w.generate()
    val generateS = (System.nanoTime() - t0) / 1e9
    // A traced run reports no set-up time, so it sets up once.
    val setupS = (0 until (if (args.trace) 1 else SetupReps)).map { rep =>
      val s0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - s0) / 1e9
    }

    val spans = mutable.ArrayBuffer[Span]()
    var nextId = 0
    def runOp(cycle: Int, op: Op, traced: Boolean): Span = {
      val id = nextId
      nextId += 1
      sc.setJobGroup(s"op-$id", s"${op.layer}:${op.cls}", interruptOnCancel = false)
      val ctx = new Ctx
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val ok =
        try op.body(ctx)
        catch {
          case e: Throwable =>
            System.err.println(s"[lakebench] op $id ${op.cls} failed: $e")
            false
        }
      val s1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      val (blocks, bytes) =
        if (!traced) (0, 0L)
        else (sc.getPersistentRDDs.size,
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      w.afterOp()
      val (retNs, retMs) =
        if (ctx.returnedNs < 0) (s1, endMs) else (ctx.returnedNs, ctx.returnedMs)
      val span = Span(id, cycle, op.cls, op.layer, startMs, retMs, endMs,
        s1 - s0, retNs - s0, ok, traced, blocks, bytes)
      spans += span
      span
    }
    /** A cycle's time is the sum of its operations' wall times; its
      * spans carry `tag` (the cycle number unless a replay says otherwise). */
    def runCycle(i: Int, traced: Boolean, tag: Int = -1): Double =
      w.cycle(i).map(op => runOp(if (tag < 0) i else tag, op, traced).wallNs).sum / 1e6

    /** Whole cycles from 1 until `seconds` have passed, at least one. */
    def measure(traced: Boolean): Seq[Double] = {
      val ms = mutable.ArrayBuffer[Double]()
      val m0 = System.nanoTime()
      while (ms.isEmpty || (System.nanoTime() - m0) / 1e9 < args.seconds)
        ms += runCycle(ms.size + 1, traced)
      ms.toSeq
    }

    val jobL = new JobListener
    val planL = new PlanListener(captureWriteTarget = args.workload == "etl_nightly")
    var counts: Map[String, Any] = Map.empty
    val untracedMs = mutable.ArrayBuffer[Double]()
    val betweenMs = mutable.ArrayBuffer[Double]()
    val cycleMs =
      if (!args.trace) measure(traced = false)
      else {
        // The measured cycles run untraced (paying the cold start), then
        // traced, untraced, traced again. The tracing overhead compares
        // the traced replays with the untraced one they bracket; spans of
        // the second traced replay are tagged n + c. Replays that would
        // end past the deadline are left out, last first.
        untracedMs ++= measure(traced = false)
        val n = untracedMs.size
        def tracedReplay(offset: Int): Seq[Double] = {
          sc.addSparkListener(jobL)
          spark.listenerManager.register(planL)
          w.startTracing()
          val ms = (1 to n).map { c =>
            val t = runCycle(c, traced = true, tag = offset + c)
            if (offset + c == 1) counts = w.snapshotCounts()
            t
          }
          org.apache.spark.lakebench.Bus.drain(sc)
          sc.removeSparkListener(jobL)
          spark.listenerManager.unregister(planL)
          w.stopTracing()
          ms
        }
        val first = tracedReplay(0)
        // a replay is estimated at 1.25x the traced one just run
        val fits = ((args.deadlineMs - System.currentTimeMillis()) / (1.25 * first.sum)).toInt
        if (fits >= 1) betweenMs ++= (1 to n).map(c => runCycle(c, traced = false))
        if (fits >= 2) first ++ tracedReplay(n) else first
      }

    def spanJson(s: Span): Map[String, Any] = Map(
      "id" -> s.id, "cycle" -> s.cycle, "cls" -> s.cls, "layer" -> s.layer,
      "start_ms" -> s.startMs, "returned_ms" -> s.returnedMs, "end_ms" -> s.endMs,
      "wall_ms" -> s.wallNs / 1e6, "call_ms" -> s.returnedNs / 1e6, "ok" -> s.ok,
      "traced" -> s.traced, "cache_blocks" -> s.cacheBlocks, "cache_bytes" -> s.cacheBytes)
    val traceJson: Map[String, Any] =
      if (!args.trace) Map.empty
      else Map(
        "jobs" -> jobL.jobs.map(j => Map(
          "id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
          "spill" -> j.spill, "input_bytes" -> j.inputBytes,
          "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes)),
        "plans" -> planL.plans.map(p => Map(
          "start_ms" -> p.startMs, "phases_ms" -> p.phasesMs,
          "exec_ms" -> p.execNs / 1e6, "write_target" -> p.writeTarget)),
        "first_cycle_counts" -> counts,
        "untraced_cycle_ms" -> untracedMs,
        "between_cycle_ms" -> betweenMs)
    Map(
      "workload" -> args.workload, "seed" -> args.seed, "cpus" -> cpus,
      "generate_s" -> generateS, "setup_s" -> setupS,
      "cycle_ms" -> cycleMs, "spans" -> spans.map(spanJson),
      "trace" -> traceJson, "report" -> w.report())
  }
}
