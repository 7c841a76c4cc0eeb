package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: one workload, one process.
  *
  * {{{
  * graft.perfbench.Runner <workload> <run dir> <seconds> <trace 0|1>
  * }}}
  *
  * The run dir holds the seeded inputs written by `perfbench/gen.py`.
  * The runner prepares the workload's state several times (each one a
  * `setup` record), then issues operations from one client thread in a
  * closed loop for `seconds`, and writes every operation to `ops.jsonl`
  * (kind, name, latency, whether it threw, and what it observed, for the
  * output checks made by `perfbench/run.py`). `run.json` carries the
  * session facts, peak RSS and stored bytes, and with tracing on the
  * per-layer metrics; `spans.jsonl` the spans. */
object Runner {

  def main(args: Array[String]): Unit = {
    val Array(workload, dirArg, secondsArg, traceArg) = args
    val dir = Paths.get(dirArg).toAbsolutePath
    val startMs = ProcessHandle.current.info.startInstant.map[Long](_.toEpochMilli)
      .orElse(System.currentTimeMillis())
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(dir, cores)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    val h = new Harness(spark, dir, secondsArg.toInt, traceArg == "1")
    val stored = workload match {
      case "lifecycle" => Lifecycle.run(h)
      case "query_mix" => QueryMix.run(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gcMs = gcs.map(_.getCollectionTime).sum
    val jitMs = Harness.jit.getTotalCompilationTime
    val retainedMb = retainedHeapMb()
    val layers =
      if (!h.tracing) Map.empty[String, Double]
      else {
        val measured = Layers.run(h, dir.resolve("layers"))
        measured ++ h.perLayer()
      }
    h.close()
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.ui.enabled", "spark.sql.adaptive.enabled",
      "spark.shuffle.sort.bypassMergeThreshold")
      .map(k => k -> spark.conf.getOption(k).getOrElse("<default>"))
    val run = Json.obj(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_start_s" -> sessionS,
      "peak_rss_mb" -> peakRssMb(),
      "retained_heap_mb" -> retainedMb,
      "jvm_gc_s" -> gcMs / 1e3,
      "jvm_jit_s" -> jitMs / 1e3,
      "stored_mb" -> stored / 1048576.0,
      "spark_version" -> spark.version,
      "conf" -> Json.obj(conf: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1): _*))
    Files.writeString(dir.resolve("run.json"), run + "\n")
    spark.stop()
  }

  /** The gated session: what Verify and the tier-1 run build, plus the
    * run's own scratch locations. Nothing that changes query execution
    * is set here beyond what the gate sets. */
  def session(dir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap still in use after full collections once the workload is
    * done: what the program keeps (caches, memos, pinned relations).
    * Spark's context cleaner frees unreferenced broadcasts and shuffles
    * only after a collection has found them, so collect until the figure
    * stops falling. */
  def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    var last = Double.MaxValue
    var now = Double.MaxValue / 2
    var rounds = 0
    while (rounds < 8 && now < last * 0.99) {
      last = math.min(last, now)
      System.gc()
      Thread.sleep(300)
      now = heap.getHeapMemoryUsage.getUsed / 1048576.0
      rounds += 1
    }
    math.min(last, now)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) graft.streaming.PartitionedTable.deleteRecursively(p)
}

/** Operation issue, timing and recording for one run. */
final class Harness(val spark: SparkSession, val dir: Path, seconds: Int,
    val tracing: Boolean) {
  val tracer = new Tracer(spark, tracing)
  private val out = Files.newBufferedWriter(dir.resolve("ops.jsonl"))
  private var opId = 0L
  private val perKind = mutable.Map[String, Int]().withDefaultValue(0)
  /** op id -> (kind, key, traced) */
  private val meta = mutable.LinkedHashMap[Long, (String, String, Boolean)]()
  private var deadline = Long.MaxValue

  /** True until the timed window, which opens at the first timed
    * operation, has run `seconds` and each timed kind has run twice
    * (so a traced run has a traced and an untraced operation of each). */
  def running: Boolean =
    System.nanoTime() < deadline || perKind("main") < 2 || perKind("probe") < 2

  /** Issue one operation. `body` returns what the operation observed
    * (checked later against the generator's truth under `key`); a throw
    * records a failed operation. In traced runs every other operation of
    * a kind runs untraced, for the overhead estimate. */
  def op(kind: String, name: String, key: String = "")(body: Long => String): Boolean = {
    opId += 1
    val id = opId
    val n = perKind(kind)
    perKind(kind) = n + 1
    val timed = kind == "main" || kind == "probe"
    if (timed && deadline == Long.MaxValue) deadline = System.nanoTime() + seconds * 1000000000L
    tracer.active = tracing && (!timed || n % 2 == 0)
    meta(id) = (kind, key, tracer.active)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (obs, err) =
      try (tracer.span(name, id)(body(id)), "")
      catch { case e: Throwable => ("", s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val lat = (System.nanoTime() - t0) / 1e9
    out.write(Json.obj("id" -> id, "kind" -> kind, "name" -> name, "key" -> key,
      "start_ms" -> startMs, "lat" -> lat, "ok" -> err.isEmpty,
      "traced" -> tracer.active, "jit_ms" -> Harness.jit.getTotalCompilationTime,
      "obs" -> obs, "err" -> err.take(400)).toString)
    out.newLine()
    out.flush()
    tracer.active = tracing
    err.isEmpty
  }

  /** A query operation: the entry call, its physical plan, and its
    * execution, each a child span. The plan is built once and reused by
    * the execution. */
  def query(id: Long, call: => DataFrame): Array[Row] = {
    val df = tracer.span("call", id)(call)
    tracer.span("plan", id)(df.queryExecution.executedPlan)
    tracer.span("exec", id)(df.collect())
  }

  /** Like [[query]], but the rows are consumed without collecting them
    * (what a `noop` write does). */
  def execute(id: Long, call: => DataFrame): Unit = {
    val df = tracer.span("call", id)(call)
    val plan = tracer.span("plan", id)(df.queryExecution.executedPlan)
    tracer.span("exec", id) {
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(df.queryExecution) {
        plan.execute().foreach(_ => ())
      }
    }
  }

  def close(): Unit = out.close()

  /** Per-layer metrics from the spans: medians over the traced `main`
    * and `probe` operations, and over the operator passes of [[Layers]].
    * Also writes every span to `spans.jsonl`. */
  def perLayer(): Map[String, Double] = {
    val spans = tracer.attribute()
    val slots = spark.sparkContext.defaultParallelism
    val children = spans.groupBy(_.parent)
    def subtree(s: Tracer.Span): Seq[Tracer.Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val w = Files.newBufferedWriter(dir.resolve("spans.jsonl"))
    spans.foreach { s =>
      val covered = Tracer.unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      val c = s.counters
      w.write(Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> (s.end - s.start - covered),
        "plan_ms" -> s.planMs, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_ms" -> c.taskMs, "gc_ms" -> c.gcMs, "shuffle_write_b" -> c.shuffleWrite,
        "shuffle_read_b" -> c.shuffleRead, "input_b" -> c.input, "spill_b" -> c.spill,
        "failed_tasks" -> c.failedTasks).toString)
      w.newLine()
    }
    w.close()
    val roots = spans.filter(_.parent == 0).map(s => s.op -> s).toMap
    def ms(s: Tracer.Span): Double = s.end - s.start
    def medians(per: Seq[Map[String, Double]], prefix: String): Map[String, Double] =
      if (per.isEmpty) Map.empty
      else per.head.keys.map(k => s"$prefix$k" -> Stats.median(per.map(_(k)))).toMap
    val mb = 1048576.0
    val byKind = Seq("main", "probe").flatMap { kind =>
      val ids = meta.collect { case (id, (`kind`, _, true)) => id }.toSeq
      medians(ids.flatMap(roots.get).map { root =>
        val all = subtree(root)
        val c = new Tracer.Counters
        all.foreach(x => c.add(x.counters))
        val wall = ms(root)
        val plan = all.map(_.planMs).sum
        val exec = Tracer.unionMs(all.flatMap(_.jobIntervals))
        Map("plan_s" -> plan / 1e3, "exec_s" -> exec / 1e3,
          "driver_s" -> math.max(0.0, wall - plan - exec) / 1e3,
          "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
          "task_s" -> c.taskMs / 1e3, "gc_s" -> c.gcMs / 1e3,
          "idle_slot_s" -> math.max(0.0, wall * slots - c.taskMs) / 1e3,
          "shuffle_write_mb" -> c.shuffleWrite / mb, "shuffle_read_mb" -> c.shuffleRead / mb,
          "input_mb" -> c.input / mb, "spill_mb" -> c.spill / mb,
          "failed_tasks" -> c.failedTasks.toDouble)
      }, s"$kind.")
    }
    // the operator passes of Layers: each entry span, and the entry
    // calls (eager work before the plan) summed over the pass
    val passIds = meta.collect {
      case (id, ("layer", key, _)) if key.startsWith("operators/") && key != Layers.WarmupKey => id
    }.toSeq
    val operators = medians(passIds.flatMap(roots.get).map { root =>
      children.getOrElse(root.id, Nil).map(e => s"${e.name}_s" -> ms(e) / 1e3).toMap +
        ("call_s" -> subtree(root).filter(_.name == "call").map(ms).sum / 1e3)
    }, "operators.")
    (byKind ++ operators).toMap
  }
}

object Harness {
  /** The JVM's total JIT compile time, recorded with every operation. */
  val jit = java.lang.management.ManagementFactory.getCompilationMXBean
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Just enough JSON writing for the run's records. */
final case class Json(fields: Seq[(String, Any)]) {
  override def toString: String = fields.map { case (k, v) =>
    Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}")
}

object Json {
  def obj(fields: (String, Any)*): Json = Json(fields)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case j: Json => j.toString
    case other => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
