package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkEntry, Spec}
import graft.operators._

/** The JVM side of one benchmark run. It drives the engine's public entry
  * points (`SparkEntry.queries`, the substrate builders, the streaming
  * join) for one workload, times each call, and writes a raw run record
  * that `perfbench/run.py` turns into metrics and checks:
  *
  *   PerfMain <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  *
  * Everything the run writes (scratch, checkpoints, warehouse, Spark local
  * dirs, the verify dump and the record) lands under `workDir`. */
object PerfMain {
  val cpus = 4
  /** Setups per run. The first, from JVM start, is the reported set-up
    * time; the later ones, in the warm JVM, give the re-setup time. */
  val setups = 3
  /** Unmeasured batch passes between the first pass and the measured
    * ones: the JIT is still compiling the engine's hot paths through them
    * (on 4 cores the heavy rows take ~20 % longer in the first warm pass
    * than in the second). */
  val warmupPasses = 2
  /** Nominal wall time of one warm batch pass on 4 cores. A batch run
    * measures `max(3, round(seconds / passNominalS))` warm passes: a
    * number fixed by `--seconds` alone, so every run of a workload has the
    * same samples. With 16 tail rows, three passes give 48 latency
    * samples, 12 of them beyond the p75. */
  val passNominalS = 4.0
  def warmPasses(seconds: Double): Int =
    math.max(3, math.round(seconds / passNominalS).toInt)
  /** The verify pass dumps one row in this many, rotating with the seed,
    * so every row's full result is checked over a few seeds while every
    * timed count is checked in every run. */
  val verifyShare = 3

  final case class BenchRow(module: String, name: String,
      fn: (SparkSession, String) => DataFrame)

  private def rowsOf(module: String, specs: Seq[Spec]): Seq[BenchRow] =
    specs.map(s => BenchRow(module, s.name, s.fn))

  /** The long tail: every 7th row of the modules whose rows do little data
    * work, so per-query fixed cost (building the DataFrame, planning,
    * codegen, job launch) dominates. */
  def tailRows: Seq[BenchRow] =
    (rowsOf("Functions", Functions.specs) ++
      rowsOf("Aggregates", Aggregates.specs) ++
      rowsOf("Windows", Windows.specs) ++
      rowsOf("SetOps", SetOps.specs) ++
      rowsOf("FilterProject", FilterProject.specs) ++
      rowsOf("SortLimit", SortLimit.specs))
      .zipWithIndex.collect { case (r, i) if i % 7 == 0 => r }

  /** Rows where executor work, shuffle and the shared substrates sit: the
    * slowest TPC-H shape, whose exchange reuse is an open item (q18), the
    * two slowest consumers of the partsupp rollup (q2, q9), the n-gram
    * pairs' direct consumer, and the embedding near-dup join. */
  val heavyNames = Set("sql_tpch_q18", "sql_tpch_q2", "sql_tpch_q9",
    "llm_dedup_ngram", "llm_dedup_embed")

  def heavyRows: Seq[BenchRow] =
    Seq("Analytics" -> Analytics.specs, "LlmText" -> LlmText.specs,
      "LlmVector" -> LlmVector.specs).flatMap { case (module, specs) =>
      rowsOf(module, specs.filter(s => heavyNames(s.name)))
    }

  /** The registered rows the batch workload runs, in run order. */
  def batchRows: Seq[BenchRow] = tailRows ++ heavyRows

  /** Shared substrates a workload builds once per session before it is
    * timed (the same builders graft.Bench prepays). */
  def prepays(workload: String): Seq[(String, (SparkSession, String) => Unit)] =
    if (workload != "batch") Seq.empty
    else Seq(
      "ps" -> ((s, d) => { Analytics.psRelation(s, d).count(); () }),
      "ngram_pairs" -> ((s, d) => { LlmText.ngramPairs(s, d).count(); () }))

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir) = args
    val run = new Run(workload, seedS.toLong, secondsS.toDouble,
      traceS == "1", new File(dataDir).getAbsolutePath,
      new File(workDir).getAbsoluteFile)
    val record = run.execute()
    Files.writeString(Paths.get(workDir, "record.json"), Json.render(record))
  }
}

final class Run(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: File) {
  import PerfMain._

  private val spans = new Spans
  private val bus = new BusRecorder
  private val failures = ArrayBuffer.empty[Map[String, Any]]
  private val counts =
    scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Long]]
  private var spark: SparkSession = _

  private def fail(pass: Any, name: String, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse(e.toString).take(400)
    System.err.println(s"[perfbench] $name failed in pass $pass: $msg")
    failures += Map("pass" -> pass, "name" -> name, "error" -> msg)
  }

  private def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }

  /** A fresh session whose scratch (java.io.tmpdir, which the engine's
    * staging and checkpoint directories live under), warehouse and Spark
    * local dirs all sit in this setup's own directory. */
  private def newSession(k: Int): SparkSession = {
    val home = dir(s"setup$k")
    System.setProperty("java.io.tmpdir", dir(s"setup$k/tmp").getPath)
    System.setProperty("derby.system.home", home.getPath)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", dir(s"setup$k/warehouse").getPath)
      .config("spark.local.dir", dir(s"setup$k/local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) s.sparkContext.addSparkListener(bus)
    s
  }

  private def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session, warm-up query and the workload's prepays, `setups` times;
    * every setup but the last is torn down again. The bus recorder of a
    * traced run is attached to every session's context. */
  private def setUp(root: Int): Unit =
    (1 to setups).foreach { k =>
      spans("setup", s"setup$k", root, s"$workload/setup$k") { sid =>
        if (k > 1) stopSession()
        spark = spans("session", "session", sid, "")(_ => newSession(k))
        spans("warmup", "warmup", sid, "") { _ =>
          SparkEntry.queries("agg_hash_group")(spark, data).count()
        }
        prepays(workload).foreach { case (name, f) =>
          spans("prepay", name, sid, s"$workload/setup$k/$name") { _ =>
            f(spark, data)
          }
        }
      }
    }

  def execute(): Map[String, Any] = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val steal0 = graft.Bench.stealSample()
    val result = spans("run", workload, -1, workload) { root =>
      setUp(root)
      if (workload == "stream_join") new StreamJoin(spark, seed, seconds,
        spans, root, dir("stream"), if (trace) Some(bus) else None).execute()
      else runBatch(root)
    }
    val steal1 = graft.Bench.stealSample()
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    stopSession()
    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus, "jvm_start" -> jvmStart,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "req" -> s.req,
        "start" -> s.start, "end" -> s.end)),
      "bus" -> (if (trace) Some(bus.record) else None),
      "failures" -> failures.toSeq,
      "host" -> Map(
        "steal_pct" -> (if (steal0._2 < 0 || steal1._2 <= steal0._2) -1.0
          else 100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2)),
        "load1" -> load1)) ++ result
  }

  /** First pass (every row's first touch in this JVM), then
    * [[PerfMain.warmupPasses]] warm-up passes and
    * [[PerfMain.warmPasses]] measured warm passes, then an untimed verify
    * pass: `graft.Verify`, the repository's correctness dump, writes a
    * seed-rotated share of the rows' results for the oracle check. In a
    * traced run bus recording is paused on the odd passes, so traced and
    * untraced passes of the same JVM give the tracing overhead. */
  private def runBatch(root: Int): Map[String, Any] = {
    val rows = batchRows
    (0 to warmupPasses + warmPasses(seconds)).foreach { pass =>
      val traced = !trace || pass % 2 == 0
      if (!traced) bus.pause()
      spans("pass", if (!trace) "pass" else if (traced) "traced"
          else "untraced", root,
          s"$workload/$pass") { pid =>
        rows.foreach { r =>
          val req = s"$workload/$pass/${r.name}"
          spans("query", s"${r.module}/${r.name}", pid, req) { qid =>
            try {
              val df = spans("build", r.name, qid, req)(_ => r.fn(spark, data))
              val n = spans("action", r.name, qid, req)(_ => df.count())
              counts.getOrElseUpdate(r.name, ArrayBuffer.empty) += n
            } catch { case e: Throwable => fail(pass, r.name, e) }
          }
        }
      }
      if (!traced) bus.resume()
    }
    val verifyDir = dir("verify")
    val dumped = rows.zipWithIndex.collect {
      case (r, i) if (i + seed) % verifyShare == 0 => r.name
    }
    // Verify takes over the active session and stops it when it is done;
    // it is the run's last use of the session.
    spans("verify", "verify", root, s"$workload/verify") { _ =>
      graft.Verify.main(Array(data, verifyDir.getPath, dumped.mkString(",")))
    }
    Map(
      "rows" -> rows.map(_.name),
      "tail_rows" -> tailRows.map(_.name),
      "warmup_passes" -> warmupPasses,
      "dumped" -> dumped,
      "counts" -> counts.map { case (k, v) => k -> v.toSeq },
      "verify_dir" -> verifyDir.getPath)
  }
}

/** The open-loop streaming workload: the built-in `rate` source at a fixed
  * offered rate feeds the engine's watermarked inner interval join
  * (`StreamingOps.clickViewPairs`) under a fixed-interval trigger. Each
  * generated `value` is one event: the seed hashes it to a user out of
  * [[StreamJoin.users]] and marks one event in four as a click; its event
  * time is its scheduled time on the rate clock, sped up
  * [[StreamJoin.speedup]] times. The sink aggregates each batch's pairs by
  * click and records when the batch finished. */
object StreamJoin {
  private final case class Out(batch: Long, end: Double, rows: Array[Row])

  val rate = 20000
  val partitions = 4
  val users = 100000L
  val speedup = 120
  val bandMinutes = 10
  val watermark = "1 minute"
  /** Micro-batch interval. The rate source releases rows in whole seconds
    * of its clock and a micro-batch of this join takes about a second, so
    * an as-soon-as-possible trigger drifts between one- and two-second
    * batches; a fixed two-second trigger keeps every batch the same. */
  val triggerMs = 2000L
  /** Millisecond within the wall-clock second at which the query starts. */
  val startPhaseMs = 200L
  /** Event-time µs between consecutive values. */
  val stepUs: Long = speedup * 1000000L / rate
  val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  /** Wall seconds before measuring: the band plus the watermark delay in
    * sped-up time (5.5 s), and the catch-up after the cold first
    * micro-batch, until batches run on the trigger's grid. */
  val warmupS = 12.0

  /** The events for a frame of `value`s (streaming or batch). */
  def events(values: DataFrame, seed: Long): DataFrame =
    values.select(
      col("value").as("event_id"),
      pmod(xxhash64(lit(seed), col("value")), lit(users)).as("user_id"),
      (pmod(xxhash64(lit(seed + 1), col("value")), lit(4L)) === 0)
        .as("is_click"),
      timestamp_micros(lit(baseUs) + col("value") * lit(stepUs)).as("ts"))

  def clicks(ev: DataFrame): DataFrame =
    ev.filter(col("is_click")).select("event_id", "user_id", "ts")

  def views(ev: DataFrame): DataFrame =
    ev.filter(!col("is_click")).select("event_id", "user_id", "ts")

  /** The fields of one micro-batch progress report the analysis reads. */
  def progressRecord(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Any] = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    Map(
      "batch" -> p.batchId,
      "start" -> start,
      "duration_ms" -> d,
      "end_offsets" -> Option(p.sources).getOrElse(Array.empty)
        .map(_.endOffset).toSeq,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_dropped_late" -> ops.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Pairs per click: what the sink keeps, and what the batch twin is
    * compared on. */
  def perClick(pairs: DataFrame): DataFrame =
    pairs.groupBy("click_id")
      .agg(count(lit(1)).as("n"), sum("view_id").as("view_sum"))
}

/** In a traced run the bus recorder sees the query start, is paused for
  * the first half of the measured window and records the second, so the
  * two halves give the tracing overhead. */
final class StreamJoin(spark: SparkSession, seed: Long, seconds: Double,
    spans: Spans, root: Int, home: File, bus: Option[BusRecorder]) {
  import StreamJoin._

  private val outs = new java.util.concurrent.ConcurrentLinkedQueue[Out]()

  /** The rate source's clock start, as it wrote it into the checkpoint's
    * offset-metadata log (`sources/0/0`: a version line, then the start
    * time in epoch ms). */
  private def rateStart(ckpt: File): Double =
    Files.readAllLines(new File(ckpt, "sources/0/0").toPath).asScala
      .map(_.trim).find(_.matches("\\d+")).map(_.toDouble)
      .getOrElse(sys.error("no rate-source start time in the checkpoint"))

  def execute(): Map[String, Any] = {
    val ckpt = new File(home, "checkpoint")
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", rate.toString)
      .option("numPartitions", partitions.toString)
      .load()
    val ev = events(src.select("value"), seed)
    val pairs = graft.streaming.StreamingOps.clickViewPairs(
      clicks(ev).withWatermark("ts", watermark),
      views(ev).withWatermark("ts", watermark), bandMinutes)
    val sink: (DataFrame, Long) => Unit = (df, batch) => {
      val rows = perClick(df).collect()
      outs.add(Out(batch, Clock.now(), rows))
    }
    // The rate clock releases rows in whole seconds from the source's
    // creation (about 0.3 s after start()), and the trigger fires on
    // multiples of its interval since the epoch. Starting at a fixed phase
    // of the wall-clock second keeps the two clocks in the same relation
    // in every run; otherwise the wait for the next trigger, and with it
    // every latency, would shift by up to a second from run to run.
    Thread.sleep((startPhaseMs - System.currentTimeMillis() % 1000 + 1000) % 1000)
    val startCall = Clock.now()
    val q = spans("query_start", "start", root, "stream_join/start") { _ =>
      pairs.writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch(sink)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .start()
    }
    val measureFrom = startCall + warmupS * 1e3
    val measureTo = measureFrom + seconds * 1e3
    val half = (measureFrom + measureTo) / 2
    bus.foreach(_.pause())
    def runUntil(t: Double): Unit =
      while (Clock.now() < t && q.exception.isEmpty) Thread.sleep(20)
    spans("stream", "first_half", root, "stream_join/stream")(_ =>
      runUntil(half))
    bus.foreach(_.resume())
    spans("stream", "second_half", root, "stream_join/stream")(_ =>
      runUntil(measureTo))
    // Stop between micro-batches: stop() interrupts a running batch, and
    // the interrupt can surface as a query failure.
    def done = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val last = done
    val giveUp = Clock.now() + 3 * triggerMs
    while (done == last && Clock.now() < giveUp && q.exception.isEmpty)
      Thread.sleep(5)
    spans("query_stop", "stop", root, "stream_join/stop")(_ => q.stop())
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq.map(progressRecord)
    val lastBatch = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
    val endOffset = q.recentProgress.lastOption
      .map(_.sources.head.endOffset.trim.toLong).getOrElse(0L)
    val kept = outs.asScala.toSeq.filter(_.batch <= lastBatch)
    val start = rateStart(ckpt)
    // Latency of each click: from its scheduled creation on the rate
    // clock to the end of the batch that emitted its pairs.
    val latencies = kept.filter(o => o.end >= measureFrom && o.end <= measureTo)
      .map { o =>
        Map("end" -> o.end, "lat" -> o.rows.map(r =>
          (o.end - (start + r.getLong(0) * 1e3 / rate)) / 1e3).toSeq)
      }
    val firstResult = kept.filter(_.rows.nonEmpty).map(_.batch)
      .reduceOption(_ min _)
    val twin = spans("verify", "twin", root, "stream_join/verify") { _ =>
      compareWithTwin(kept, endOffset * rate)
    }
    Map(
      "stream" -> (Map(
        "rate" -> rate, "speedup" -> speedup, "users" -> users,
        "rate_start" -> start, "start_call" -> startCall,
        "window" -> Seq(measureFrom, measureTo),
        "first_result_batch" -> firstResult,
        "latencies" -> latencies,
        "progress" -> progress,
        "end_offset" -> endOffset) ++ twin))
  }

  /** The emitted pairs over the processed offset prefix must equal the
    * engine's batch twin: `clickViewPairs` over the same events,
    * regenerated as a batch frame. Event time is monotone in `value`, so
    * no event is late and the two agree exactly. */
  private def compareWithTwin(kept: Seq[Out], nValues: Long): Map[String, Any] = {
    val ev = events(spark.range(0L, nValues).toDF("value"), seed)
    val twin = perClick(graft.streaming.StreamingOps.clickViewPairs(
      clicks(ev), views(ev), bandMinutes))
    val streamed = spark.createDataFrame(
      kept.flatMap(_.rows).asJava, twin.schema)
      .groupBy("click_id")
      .agg(sum("n").as("n"), sum("view_sum").as("view_sum"))
    val cached = twin.cache()
    val clicksChecked = cached.count()
    val missing = cached.exceptAll(streamed).count()
    val extra = streamed.exceptAll(cached).count()
    cached.unpersist()
    Map("twin_values" -> nValues, "clicks_checked" -> clicksChecked,
      "mismatched" -> (missing + extra))
  }
}
