package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}

/** Closed-loop benchmark driver: one client thread issues one op (a
  * registered query of `SparkEntry.queries`) at a time. Each pass runs
  * every op of the workload once, in an order drawn from the seed.
  * Passes repeat until the measuring time is spent.
  *
  * An op's latency runs from calling the query function (which builds
  * the DataFrame, including any eager checkpoints) until its rows are
  * collected on the driver. Its output check (row count and an
  * order-insensitive content hash) runs after the clock stops.
  *
  * With `--trace 1`, passes alternate between untraced and traced; the
  * traced ones attribute listener events to each op. With
  * `--stage-walk 1`, a traced run then times the pipeline store's stage
  * functions one call at a time. Everything measured goes to `--out`
  * as JSON; `perfbench/run.py` turns it into the benchmark's metrics. */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class OpRun(op: String, pass: Int, traced: Boolean,
      wallS: Double, cpuS: Double, constructS: Double, constructJobs: Long,
      rows: Long, hash: String, error: String, layers: Option[OpLayers],
      windowMs: (Long, Long))

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val ops = a("ops").split(",").toSeq
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val stageWalk = a("stage-walk") == "1"
    val (sfDir, warmDir) = (a("sf-dir"), a("warm-dir"))
    val rng = new Random(a("seed").toLong)

    // set-up: session build plus one warm-up execution of every op on
    // the small tables, so class loading, session start and most code
    // generation happen before the clock starts (the JIT is still
    // compiling during the first full-size pass)
    val t0 = System.nanoTime()
    val spark = Session.build(cpus)
    ops.foreach(op => materialize(SparkEntry.queries(op)(spark, warmDir)))
    val setupS = (System.nanoTime() - t0) / 1e9

    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }

    val runs = ArrayBuffer.empty[OpRun]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    // a traced run brackets its first traced pass with untraced ones:
    // the JVM still speeds up from pass to pass, so the tracing
    // overhead compares against the mean of the neighbours
    def done = System.nanoTime() >= deadline && (!trace || pass >= 3)
    while (!done) {
      val traced = trace && pass % 2 == 1
      rng.shuffle(ops).foreach { op =>
        runs += runOp(spark, op, sfDir, pass, if (traced) recorder else None)
      }
      pass += 1
    }

    val stages = recorder.filter(_ => stageWalk)
      .map(walkPipelineStages(spark, sfDir, _)).getOrElse(Nil)
    val spans = recorder.map(_.allSpans).getOrElse(Nil)
    spark.stop()

    val out = new StringBuilder
    out ++= "{" ++= s""""setup_s":${Json.num(setupS)},"""
    out ++= s""""ops":${Json.arr(runs.map(opJson))},"""
    out ++= s""""stages":${Json.arr(stages.map(opJson))}}"""
    Files.write(Paths.get(a("out")), out.toString.getBytes(UTF_8))
    a.get("spans").filter(_ => trace).foreach { path =>
      Files.write(Paths.get(path), spans.map(spanJson).mkString("", "\n", "\n")
        .getBytes(UTF_8))
    }
  }

  private def materialize(df: DataFrame): Array[Row] = df.collect()

  private def runOp(spark: SparkSession, op: String, dir: String, pass: Int,
      recorder: Option[Recorder]): OpRun =
    timed(spark, op, pass, recorder) { mark =>
      val df = SparkEntry.queries(op)(spark, dir)
      mark()
      materialize(df)
    }

  /** Runs `body` as one op: wall and process CPU around it, and with a
    * recorder, the op's listener counters. `body` calls `mark` when the
    * DataFrame is built, which splits construction from the rest. */
  private[perfbench] def timed(spark: SparkSession, op: String, pass: Int,
      recorder: Option[Recorder])(body: (() => Unit) => Array[Row]): OpRun = {
    val layers = recorder.map { r =>
      ListenerBus.drain(spark.sparkContext)
      val l = new OpLayers(r.newId(), r.newId())
      r.begin(l)
      l
    }
    var constructEnd = 0L
    var constructJobs = 0L
    val mark = () => {
      constructEnd = System.nanoTime()
      layers.foreach { l =>
        ListenerBus.drain(spark.sparkContext)
        constructJobs = l.jobs
      }
    }
    val startMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val result = try Right(body(mark)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val cpu1 = os.getProcessCpuTime
    val endMs = System.currentTimeMillis()
    recorder.foreach { r =>
      ListenerBus.drain(spark.sparkContext)
      r.end()
      val l = layers.get
      r.addSpan(Span(l.rootSpan, l.op, op, startMs, endMs, 0L))
      if (constructEnd > 0)
        r.addSpan(Span(r.newId(), l.op, "construct", startMs,
          startMs + (constructEnd - t0) / 1000000L, l.rootSpan))
    }
    val construct = if (constructEnd > 0) (constructEnd - t0) / 1e9 else 0.0
    result match {
      case Right(rows) =>
        val (n, h) = Check.digest(rows)
        OpRun(op, pass, recorder.isDefined, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9,
          construct, constructJobs, n, h, "", layers, (startMs, endMs))
      case Left(e) =>
        OpRun(op, pass, recorder.isDefined, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9,
          construct, constructJobs, -1L, "", String.valueOf(e.getMessage),
          layers, (startMs, endMs))
    }
  }

  /** The pipeline store's stage functions, called one at a time on the
    * q395 horizon plus a retrain: build the store, run and absorb days
    * 1 and 2, retrain, persist, reload cold, and run day 3 off the
    * reloaded store. Each call is an op of its own, named after the
    * stage. */
  private def walkPipelineStages(spark: SparkSession, dir: String,
      r: Recorder): Seq[OpRun] = {
    val out = ArrayBuffer.empty[OpRun]
    def stage[T](name: String)(f: => T): T = {
      var value: Option[T] = None
      out += timed(spark, name, 0, Some(r)) { _ => value = Some(f); Array.empty }
      value.getOrElse(sys.error(s"pipeline stage $name failed: ${out.last.error}"))
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"))
      .localCheckpoint()
    def day(d: Int) = docs.filter(col("doc_id") % 7 === d)
    var store = stage("build") {
      SparkEntry.buildPipelineStore(spark, dir,
        docs.filter(!(col("doc_id") % 7).isin(1, 2, 3)), docs)
    }
    (1 to 2).foreach { d =>
      val delta = stage("delta")(SparkEntry.pipelineDeltaDay(store, day(d)))
      store = stage("absorb")(SparkEntry.absorbPipelineDay(store, delta))
    }
    store = stage("retrain")(SparkEntry.retrainPipelineStore(spark, store))
    val saved = Files.createTempDirectory("perfbench_store").toString
    stage("persist")(SparkEntry.persistPipelineStore(store, saved))
    val cold = stage("load")(SparkEntry.loadPipelineStore(spark, saved,
      store.quant))
    stage("delta")(SparkEntry.pipelineDeltaDay(cold, day(3)).ledger.collect())
    out.toSeq
  }

  private def opJson(r: OpRun): String = {
    val base = Seq(
      "op" -> Json.str(r.op), "pass" -> r.pass.toString,
      "traced" -> r.traced.toString, "wall_s" -> Json.num(r.wallS),
      "cpu_s" -> Json.num(r.cpuS), "construct_s" -> Json.num(r.constructS),
      "construct_jobs" -> r.constructJobs.toString,
      "rows" -> r.rows.toString, "hash" -> Json.str(r.hash),
      "error" -> Json.str(r.error))
    val layers = r.layers.toSeq.flatMap { l =>
      val (lo, hi) = r.windowMs
      Seq(
        "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
        "single_task_stages" -> l.singleTaskStages, "task_ms" -> l.taskMs,
        "cpu_ns" -> l.cpuNs, "gc_ms" -> l.gcMs,
        "busy_ms" -> Intervals.unionLength(l.taskIntervals.toSeq, lo, hi),
        "window_ms" -> (hi - lo),
        "shuffle_write_b" -> l.shuffleWriteB,
        "shuffle_read_b" -> l.shuffleReadB, "fetch_wait_ms" -> l.fetchWaitMs,
        "spill_b" -> l.spillB, "input_b" -> l.inputB,
        "input_rows" -> l.inputRows, "output_b" -> l.outputB,
        "analysis_ms" -> l.analysisMs, "optimization_ms" -> l.optimizationMs,
        "planning_ms" -> l.planningMs, "executions" -> l.executions,
        "exchanges" -> l.exchanges, "sorts" -> l.sorts,
        "windows" -> l.windows, "broadcasts" -> l.broadcasts,
        "storage_peak_b" -> l.storagePeakB, "storage_end_b" -> l.storageEndB)
        .map { case (k, v) => k -> v.toString }
    }
    Json.obj(base ++ layers)
  }

  private def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "op" -> s.op.toString, "name" -> Json.str(s.name),
    "start_ms" -> s.start.toString, "end_ms" -> s.end.toString,
    "parent" -> s.parent.toString))
}

/** Session settings of the engine's own benchmark (`graft.Bench`). */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.files.minPartitionNum", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
