package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.LongType

/** One generated event. Rows of one `dup_key` group share every field
  * but `created_us`, so three of every four rows are duplicates. */
final case class Ev(dup_key: Long, ts: java.sql.Timestamp, created_us: Long,
    user_id: Long, event_type: String, value: Double)

/** `stream_ingest`: open loop. A feeder thread adds events to a memory
  * source on a fixed schedule, whatever the query's progress, stepping
  * through a short ladder of offered rates. Rows pass through
  * `Streams.dedupStream` and a tumbling-window aggregation (update mode)
  * into a foreachBatch sink that appends parquet. Each row carries its
  * scheduled creation time. A row's lag is the commit time of the batch
  * that reads it minus its creation time. The memory source hands out
  * rows in the order they were added, so the record keeps, per batch, its
  * commit time and input row count, and the rows of each batch follow
  * from the feeder's schedule.
  */
object StreamWorkload {
  val Types = Array("click", "error", "purchase", "signup", "view")
  val EventEpochMs = 1704067200000L // 2024-01-01T00:00:00Z
  val Window = "1 second"
  val Watermark = "2 seconds"
  val GroupSize = 4

  private def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** (user_id, event_type, value) of group `g`: a pure function of the seed. */
  def group(seed: Long, g: Long): (Long, String, Double) = {
    val h = mix(seed * 1000003L + g)
    (java.lang.Long.remainderUnsigned(h, 1000L),
      Types(java.lang.Long.remainderUnsigned(h >>> 20, Types.length.toLong).toInt),
      java.lang.Long.remainderUnsigned(h >>> 32, 10000L) / 100.0)
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.rec.tracer
    val rates = Seq(10000.0, 20000.0, 40000.0)
    val source = MemoryStream[Ev](Encoders.product[Ev], spark)
    val sinkDir = s"${ctx.out}/sink"
    val processed = new java.util.concurrent.atomic.AtomicLong(0)
    val progress = ArrayBuffer.empty[Map[String, Any]]
    val batches = ArrayBuffer.empty[Map[String, Any]]
    @volatile var phase = "setup"

    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        processed.addAndGet(p.numInputRows)
        val ops = p.stateOperators.map(s => Map(
          "name" -> s.operatorName, "rows_total" -> s.numRowsTotal,
          "bytes" -> s.memoryUsedBytes, "removed" -> s.numRowsRemoved,
          "dropped_watermark" -> s.numRowsDroppedByWatermark,
          "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        progress.synchronized(progress += Map("batch" -> p.batchId, "phase" -> phase,
          "rows" -> p.numInputRows, "time" -> Clock.ms(),
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state" -> ops.toSeq))
      }
    })

    // event times count from the run's start
    val t0Us = (Clock.ms() * 1000).toLong
    // Streams.tumbleAggregate cannot take dedupStream's output: both call
    // withWatermark, and Spark rejects a redefined watermark. The
    // aggregation below is tumbleAggregate's body without its own
    // withWatermark, so the dedup's watermark drives both operators.
    val deduped = graft.streaming.Streams.dedupStream(source.toDF(), "ts", Watermark,
      Seq("dup_key", "ts"))
    val events = deduped.groupBy(window(col("ts"), Window), col("event_type"))
      .agg(count(lit(1)).as("rows"), sum("value").as("sum_value"))
      .withColumn("window_start", col("window.start")).drop("window")
    val sink: (DataFrame, Long) => Unit = { (batch, id) =>
      val start = Clock.ms()
      val rows = batch.collect()
      val writeStart = Clock.ms()
      if (rows.nonEmpty) tr.span("streaming.sink_write") {
        spark.createDataFrame(rows.toList.asJava, batch.schema).withColumn("batch_id", lit(id))
          .coalesce(1).write.mode("append").parquet(sinkDir)
      }
      val commit = Clock.ms()
      batches.synchronized(batches += Map("batch" -> id, "phase" -> phase, "start" -> start,
        "commit" -> commit, "rows_out" -> rows.length, "write_ms" -> (commit - writeStart)))
    }
    // keep every batch's progress for the row count check below
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query = events.writeStream.outputMode("update")
      .option("checkpointLocation", s"${ctx.out}/checkpoint")
      .foreachBatch(sink).start()

    // open-loop feeder: row i is due at its scheduled time; whatever is
    // due is added at each tick, stamped with its scheduled (not actual)
    // creation time
    var fed = 0L
    var groupTs = new java.sql.Timestamp(0)
    val groupTsMs = ArrayBuffer.empty[Long]
    val rungs = ArrayBuffer.empty[Map[String, Any]]  // in feeding order
    def feed(rate: Double, secs: Double): Unit = {
      val startUs = (Clock.ms() * 1000).toLong
      val first = fed
      val backlog = ArrayBuffer.empty[Seq[Double]]
      var lateMs = 0.0
      var nextSample = Clock.ms()
      val end = startUs + (secs * 1e6).toLong
      while ((Clock.ms() * 1000).toLong < end) {
        val nowUs = (Clock.ms() * 1000).toLong
        val due = first + ((nowUs - startUs) * rate / 1e6).toLong
        if (due > fed) {
          val chunk = (fed until due).map { i =>
            val sched = startUs + ((i - first) * 1e6 / rate).toLong
            val g = i / GroupSize
            if (i % GroupSize == 0) {
              groupTs = new java.sql.Timestamp(EventEpochMs + (sched - t0Us) / 1000)
              groupTsMs += groupTs.getTime
            }
            val (user, typ, value) = group(ctx.seed, g)
            Ev(g, groupTs, sched, user, typ, value)
          }
          lateMs = math.max(lateMs, (nowUs - chunk.head.created_us) / 1000.0)
          source.addData(chunk)
          fed = due
        }
        if (Clock.ms() >= nextSample) {
          backlog += Seq(Clock.ms(), (fed - processed.get).toDouble)
          nextSample += 100
        }
        // each addData becomes one block of the memory source, and a
        // micro-batch plans over every block it reads: add in 50 ms ticks
        Thread.sleep(50)
      }
      rungs += Map("phase" -> phase, "rate" -> rate, "start" -> startUs / 1000.0,
        "end" -> Clock.ms(), "fed" -> (fed - first), "late_max_ms" -> lateMs,
        "backlog" -> backlog.toSeq)
    }

    // warm-up at the lowest rate until fifteen batches have committed:
    // the first three are slow, and batch time keeps falling (JIT) until
    // about the fifteenth; a run measured earlier sits on that slope, and
    // where on it varied from run to run
    val warmEnd = Clock.ms() + 40000
    while (batches.synchronized(batches.size) < 15 && Clock.ms() < warmEnd) feed(rates.head, 1.0)
    // fixed work like the batch workloads: the ladder runs 1.2 x the
    // window, 0.8 x at the lowest rung (lag is measured there) and 0.2 x
    // at each higher rung
    ctx.windows { (p, secs) =>
      phase = p
      feed(rates.head, secs * 0.8)
      rates.tail.foreach(r => feed(r, secs * 0.2))
    }
    phase = "drain"
    query.processAllAvailable()
    query.stop()
    // rows read per batch, from the query itself: the listener's copy may
    // still be in flight (idle progress events read 0 rows)
    val inputRows = query.recentProgress.groupMapReduce(_.batchId)(_.numInputRows)(_ + _)
    batches.mapInPlace(b => b + ("rows_in" -> inputRows.getOrElse(b("batch").asInstanceOf[Long], -1L)))
    val counted = batches.map(_("rows_in").asInstanceOf[Long])
    require(!counted.contains(-1L) && counted.sum == fed,
      s"batch progress accounts for ${counted.filter(_ >= 0).sum} of $fed rows fed")

    // check: the sink's last update per (window, event_type) must equal the
    // generator's distinct-key count and value sum over every row fed
    val expected = scala.collection.mutable.HashMap.empty[(Long, String), (Long, Double)]
    groupTsMs.indices.foreach { g =>
      val (_, typ, value) = group(ctx.seed, g.toLong)
      val ts = groupTsMs(g)
      val key = (ts - Math.floorMod(ts, 1000L), typ)
      val (n, s) = expected.getOrElse(key, (0L, 0.0))
      expected(key) = (n + 1, s + value)
    }
    val got = spark.read.parquet(sinkDir)
      .select(col("window_start").cast(LongType) * 1000, col("event_type"), col("rows"),
        col("sum_value"), col("batch_id")).collect()
      .groupBy(r => (r.getLong(0), r.getString(1))).map { case (k, rs) =>
        val last = rs.maxBy(_.getLong(4))
        k -> (last.getLong(2), last.getDouble(3))
      }
    val wrong = expected.count { case (k, (n, s)) =>
      got.get(k).forall { case (gn, gs) => gn != n || math.abs(gs - s) > 1e-6 * math.max(1.0, s) }
    } + (got.keySet -- expected.keySet).size
    ctx.info("stream") = Map("rungs" -> rungs.toSeq, "batches" -> batches.toSeq,
      "progress" -> progress.toSeq, "rows_fed" -> fed,
      "groups_checked" -> expected.size, "groups_wrong" -> wrong,
      "duplicates_fed" -> (fed - (fed + GroupSize - 1) / GroupSize))
  }
}
