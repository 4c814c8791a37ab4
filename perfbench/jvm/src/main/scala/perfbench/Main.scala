package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes a raw run record (operations, spans,
  * counts, listener stages, memory) as JSON. perfbench/run.py generates
  * the inputs, launches this program, checks outputs and derives the
  * metrics.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --data DIR
  *       --out DIR [--truth FILE]
  *   or: --dump-oracles FILE   (oracle SQL of the ch_sql mix and
  *                              BenchLayout.filesPerTable, as JSON)
  */
object Main {
  /** Times each repeatable set-up step runs; setup_s takes the median. */
  val PrepReps = 3

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Phase timings and memory samples shared by the workloads. */
  final class Ctx(val spark: SparkSession, val rec: Recorder, val args: Map[String, String]) {
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val data: String = args("data")
    val out: String = args("out")
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var firstTimed = 0.0
    private val heapPeak = new java.util.concurrent.atomic.AtomicLong(0)

    def sampleHeap(): Unit = {
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      heapPeak.accumulateAndGet(used, math.max)
    }
    def heapPeakMb: Double = heapPeak.get / 1048576.0

    /** Run `body` `PrepReps` times; record each duration (s) under `key`. */
    def repeatedPrep[T](key: String)(body: => T): T = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var last: Option[T] = None
      (1 to PrepReps).foreach { _ =>
        val t0 = Clock.ms()
        last = Some(body)
        times += (Clock.ms() - t0) / 1000.0
      }
      info(key) = times.toSeq
      last.get
    }

    /** Split the measuring window: untraced only, or (traced run) the
      * first half untraced and the second half traced. */
    def windows(run: (String, Double) => Unit): Unit = {
      firstTimed = Clock.ms()
      rec.phase = "untraced"
      if (!traced) run("untraced", seconds)
      else {
        run("untraced", seconds / 2)
        rec.tracer.enabled = true
        rec.phase = "traced"
        run("traced", seconds / 2)
        rec.tracer.enabled = false
      }
    }

    /** Whole passes of a workload whose steady pass takes about
      * `nominalSecs`, sized to the window. A fixed count (not "until the
      * clock runs out") keeps every run at the same point of the JIT's
      * warm-up curve. */
    def passes(secs: Double, nominalSecs: Double): Int =
      math.max(1, math.round(secs / nominalSecs).toInt)
  }

  def main(argv: Array[String]): Unit = {
    val launched = Clock.ms()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracles").foreach { f =>
      write(f, Map("oracles" -> ChSqlWorkload.oracles,
        "files_per_table" -> graft.BenchLayout.filesPerTable))
      return
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.Engine.session(cores, "perfbench")
    val sc = spark.sparkContext
    val stageLog = new StageLog
    sc.addSparkListener(stageLog)
    val ctx = new Ctx(spark, new Recorder(sc, new Tracer), args)
    ctx.info("cores") = cores
    ctx.info("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    val sessionReady = Clock.ms()
    val sampler = new java.util.Timer(true)
    sampler.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = ctx.sampleHeap()
    }, 0L, 50L)
    val gc0 = gcMs()
    args("workload") match {
      case "ch_sql" => ChSqlWorkload.run(ctx)
      case "llm_corpus" => CorpusWorkload.run(ctx)
      case "stream_ingest" => StreamWorkload.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val done = Clock.ms()
    sampler.cancel()
    ctx.sampleHeap()
    stageLog.drain(sc)
    val record = Map(
      "launched" -> launched, "session_ready" -> sessionReady,
      "first_timed" -> ctx.firstTimed, "done" -> done,
      "info" -> ctx.info,
      "ops" -> ctx.rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "phase" -> o.phase, "start" -> o.start,
        "end" -> o.end, "ok" -> o.ok, "error" -> o.error)),
      "stages" -> stageLog.synchronized(stageLog.stages.toList),
      "jobs" -> stageLog.synchronized(stageLog.jobs.toList),
      "counts" -> ctx.rec.tracer.counts.toList,
      "jvm" -> Map("gc_ms" -> (gcMs() - gc0), "heap_used_peak_mb" -> ctx.heapPeakMb,
        "rss_peak_mb" -> rssPeakMb()))
    write(s"${ctx.out}/record.json", record)
    // spans go to their own file: they are the trace, not the summary
    write(s"${ctx.out}/spans.json", ctx.rec.tracer.spans.toList)
    spark.stop()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def write(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    mapper.writeValue(Paths.get(path).toFile, value)
  }
}
