package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.sources.IdempotentTableSink
import graft.streaming.{MbStream, Minibatch}

/** Drives the minibatch streaming path (append → buffer → emitter → emit fn
  * → sink/commit → retention) through its public API and writes raw records
  * as JSON lines. `perfbench/run.py` turns the records into metrics and
  * checks them; nothing here computes a statistic.
  *
  * Record kinds: `env`, `setup`, `a` (one producer call), `w` (one emitted
  * window), `pass` (one stream-drain pass), `burst`, `retention`, `span`,
  * `p` (one trigger's progress), `b` (backlog sample), `spark` (listener
  * counters of a phase), `phase`.
  *
  * Usage: StreamBench <stream-live|stream-drain> <seed> <seconds> <trace 0|1> <work dir> <records file>
  */
object StreamBench {

  // ── clock: epoch microseconds advanced by the monotonic clock ──────────
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  // ── record sink ─────────────────────────────────────────────────────────
  private val records = new ConcurrentLinkedQueue[String]()

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => jsonValue(k.toString) + ":" + jsonValue(x) }.mkString("{", ",", "}")
    case null => "null"
    case other => other.toString
  }

  def rec(kind: String, fields: (String, Any)*): Unit =
    records.add((("kind" -> kind) +: fields).map { case (k, v) => jsonValue(k) + ":" + jsonValue(v) }
      .mkString("{", ",", "}"))

  def span(name: String, phase: String, startUs: Long, endUs: Long, fields: (String, Any)*): Unit =
    rec("span", Seq("name" -> name, "phase" -> phase, "start_us" -> startUs, "end_us" -> endUs) ++ fields: _*)

  // ── per-layer tagging of Spark jobs (read by the SparkListener) ─────────
  private val LayerKey = "perfbench.layer"
  @volatile var tracing = false

  private val MessageRe = """\{"seq":(\d+),"v":(\d+),""".r

  def tagged[T](spark: SparkSession, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, layer)
      try body finally sc.setLocalProperty(LayerKey, prev)
    }

  /** Spark-wide counters, summed per phase from the public listener API. */
  final class Counters extends SparkListener {
    val c: Map[String, AtomicLong] = Seq("jobs", "stages", "tasks", "failed_tasks", "task_run_ms",
      "executor_cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "jobs_emit", "jobs_sink", "jobs_flush", "jobs_retention").map(_ -> new AtomicLong).toMap

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c("jobs").incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
        .flatMap(l => c.get(s"jobs_$l")).foreach(_.incrementAndGet())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c("stages").incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c("tasks").incrementAndGet()
      if (e.taskInfo != null && !e.taskInfo.successful) c("failed_tasks").incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c("task_run_ms").addAndGet(m.executorRunTime)
        c("executor_cpu_ns").addAndGet(m.executorCpuTime)
        c("gc_ms").addAndGet(m.jvmGCTime)
        c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
  }

  /** Trigger progress from the public StreamingQueryListener. */
  final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.headOption
      rec("p", "query" -> p.name, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "recv_us" -> nowUs)
    }
  }

  // ── workload context ────────────────────────────────────────────────────
  final class Ctx(val seed: Long, val seconds: Int, val trace: Boolean, val work: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    private var session: SparkSession = _
    val counters = new Counters
    val progress = new Progress

    /** A fresh session: the previous one (if any) is stopped first, so each
      * set-up repetition pays session start like a new process would. */
    def newSession(): SparkSession = {
      if (session != null) session.stop()
      session = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        // one shuffle (and state-store) partition per core, as the test
        // session does; Spark's default of 200 makes every emit fn job and
        // every trigger run 200 tiny tasks on a few cores
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      session.sparkContext.setLogLevel("ERROR")
      session
    }

    def spark: SparkSession = session

    def startTracing(): Unit = {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(progress)
      tracing = true
    }

    /** Run `body` as one phase; in a traced phase, record its span and the
      * Spark counters it moved. */
    def phase(name: String, label: String)(body: => Unit): Unit = {
      val before = if (tracing) counters.snapshot() else Map.empty[String, Long]
      val s = nowUs
      body
      val e = nowUs
      span(name, label, s, e)
      if (tracing) {
        Thread.sleep(200) // let the listener bus deliver the phase's last task ends
        val after = counters.snapshot()
        rec("spark", Seq("phase" -> label, "name" -> name, "wall_us" -> (e - s), "cores" -> cores) ++
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }: _*)
      }
    }

    def stop(): Unit = if (session != null) session.stop()
  }

  // ── one stream under test: producer counters and the recording emit fn ──
  final class Tracked(ctx: Ctx, root: String, val name: String) {
    val mb: Minibatch = Minibatch(ctx.spark, root)
    val stream: MbStream = mb.stream(name)
    val appended = new AtomicLong
    val emitted = new AtomicLong
    private var nextSeq = 0L
    private val rng = new java.util.Random(ctx.seed * 1000003L + name.hashCode)

    /** The next seeded message, due at `dueUs` (0: written as a backlog). */
    def message(dueUs: Long): (Long, Long, String) = {
      val seq = nextSeq; nextSeq += 1
      val v = rng.nextInt(1000).toLong
      (seq, v, s"""{"seq":$seq,"v":$v,"due":$dueUs}""")
    }

    /** `n` messages written as one backlog, recorded for the gates. */
    def backlog(label: String, n: Int): Seq[String] = (0 until n).map { _ =>
      val (seq, v, json) = message(0L)
      rec("a", "phase" -> label, "stream" -> name, "seq" -> seq, "v" -> v, "due_us" -> 0L,
        "start_us" -> 0L, "end_us" -> 0L, "flush" -> false)
      json
    }

    /** Like the reference's emitfn, which receives the window's messages as
      * a list: one Spark job collects the window, then it is aggregated. */
    val emitFn: (Long, DataFrame) => Unit = (wid, df) => {
      val s = nowUs
      val rows = tagged(ctx.spark, "emit")(df.select(col("data")).collect())
      val seqs = rows.map(r => MessageRe.findFirstMatchIn(r.getString(0)).get)
      val total = seqs.map(_.group(2).toLong).sum
      val e = nowUs
      rec("w", "stream" -> name, "window" -> wid, "n" -> rows.length, "sum" -> total,
        "seqs" -> seqs.map(_.group(1).toLong).sorted.toSeq, "start_us" -> s, "end_us" -> e)
      emitted.addAndGet(rows.length)
    }

    val sinkDir: String = s"$root/$name-sink"
    private val sink = new IdempotentTableSink(sinkDir)
    val sinkFn: (DataFrame, Long) => Unit = (df, batch) => {
      val s = nowUs
      tagged(ctx.spark, "sink")(sink.put(df, batch))
      rec("span", "name" -> "IdempotentTableSink.put", "phase" -> "", "stream" -> name,
        "batch" -> batch, "start_us" -> s, "end_us" -> nowUs)
    }

    /** Wait until every appended message has been emitted. */
    def awaitEmitted(timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (emitted.get < appended.get && System.nanoTime() < deadline) Thread.sleep(2)
      emitted.get >= appended.get
    }

    def bufferFiles(): Seq[Path] = {
      val p = Paths.get(stream.bufferDir)
      if (!Files.exists(p)) Seq.empty
      else {
        val s = Files.list(p)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        finally s.close()
      }
    }

    def sweep(phase: String): Unit = {
      val files = bufferFiles()
      val bytes = files.map(Files.size).sum
      val s = nowUs
      val dropped = tagged(ctx.spark, "retention")(stream.runRetention(0))
      val e = nowUs
      rec("retention", "phase" -> phase, "stream" -> name, "files_before" -> files.size,
        "bytes_before" -> bytes, "dropped" -> dropped, "files_after" -> bufferFiles().size,
        "start_us" -> s, "end_us" -> e)
    }
  }

  /** Backlog sampler for traced phases: appended minus emitted, every 20 ms. */
  def sampleBacklog[T](ctx: Ctx, t: Tracked, label: String)(body: => T): T =
    if (!ctx.trace || !tracing) body
    else {
      @volatile var on = true
      val th = new Thread(() => {
        while (on) {
          rec("b", "phase" -> label, "stream" -> t.name, "t_us" -> nowUs,
            "backlog" -> (t.appended.get - t.emitted.get))
          Thread.sleep(20)
        }
      }, "perfbench-backlog")
      th.setDaemon(true)
      th.start()
      try body finally { on = false; th.join() }
    }

  // ── stream-live: open loop at a fixed rate ──────────────────────────────
  object Live {
    val Rate = 200          // messages per second
    val FlushBatch = 50     // producer batch: one buffer file per 50 appends
    val Size = 40           // CountWindow size
    val WarmMsgs = 400      // closed-loop warm-up per set-up repetition
    val JitWarmMsgs = 3000  // backlog drained in the first set-up only: JIT warm-up
    val BurstMsgs = 1200    // backlog the running emitter drains after the timed phase
    val Unit = 200          // phases are whole multiples of both batch and window
    val LeadInMsgs = 400    // untimed open-loop lead-in: trigger pacing settles

    def start(ctx: Ctx, t: Tracked): StreamingQuery =
      t.mb.streaming(t.name).size(Size).withTrigger(Trigger.ProcessingTime(0))
        .keep(false).maxWorkers(1).emit(t.emitFn).start()

    /** Append through the producer batcher; records each call. */
    def append(ctx: Ctx, t: Tracked, label: String, dueUs: Long): Unit = {
      val (seq, v, json) = t.message(dueUs)
      val flushes = (seq + 1) % FlushBatch == 0
      val s = nowUs
      tagged(ctx.spark, "flush")(t.stream.append(json, FlushBatch))
      val e = nowUs
      t.appended.incrementAndGet()
      rec("a", "phase" -> label, "stream" -> t.name, "seq" -> seq, "v" -> v, "due_us" -> dueUs,
        "start_us" -> s, "end_us" -> e, "flush" -> flushes)
    }

    /** Open-loop generator: message i is due at t0 + i/Rate whatever the
      * system does; lateness is the call start minus the due time. */
    def generate(ctx: Ctx, t: Tracked, label: String, n: Int): Unit = {
      val t0 = nowUs + 20000L
      var i = 0
      while (i < n) {
        val due = t0 + i * 1000000L / Rate
        var now = nowUs
        while (now < due) { LockSupport.parkNanos((due - now) * 1000L); now = nowUs }
        append(ctx, t, label, due)
        i += 1
      }
      t.stream.flush()
    }

    /** Write `n` messages as one buffer file: a backlog for the running emitter. */
    def appendBacklog(t: Tracked, label: String, n: Int): Unit = {
      t.stream.appendAll(t.backlog(label, n))
      t.appended.addAndGet(n)
    }

    def measure(ctx: Ctx, t: Tracked, label: String, n: Int): Unit = {
      ctx.phase("measure", label) {
        sampleBacklog(ctx, t, label) {
          generate(ctx, t, label, n)
          rec("phase", "phase" -> label, "name" -> "measure", "drained" -> t.awaitEmitted(90))
        }
      }
      // the running emitter's catch-up rate on a backlog written in one file
      ctx.phase("burst", label) {
        appendBacklog(t, s"$label-burst", BurstMsgs)
        val ready = nowUs
        val drained = t.awaitEmitted(60)
        rec("burst", "phase" -> label, "stream" -> t.name, "msgs" -> BurstMsgs,
          "ready_us" -> ready, "drained" -> drained)
      }
    }

    def run(ctx: Ctx, reps: Int): Unit = {
      val n = math.max(1, ctx.seconds * Rate / Unit) * Unit
      var last: (Tracked, StreamingQuery) = null
      val stopped = Seq.newBuilder[(String, String)]
      for (k <- 1 to reps) {
        val s = nowUs
        ctx.newSession()
        val root = ctx.work.resolve(s"live$k").toString
        val t = new Tracked(ctx, root, s"live$k")
        val q = start(ctx, t)
        (0 until WarmMsgs).foreach(_ => append(ctx, t, "warm", nowUs))
        if (k == 1) appendBacklog(t, "warm", JitWarmMsgs)
        val drained = t.awaitEmitted(90)
        val e = nowUs
        rec("setup", "rep" -> k, "start_us" -> s, "end_us" -> e, "drained" -> drained)
        if (k < reps) { q.stop(); stopped += root -> t.name } else last = (t, q)
      }
      val (t, q) = last
      generate(ctx, t, "warm", LeadInMsgs)
      t.awaitEmitted(90)
      measure(ctx, t, "plain", n)
      if (ctx.trace) {
        ctx.startTracing()
        measure(ctx, t, "traced", n)
      }
      q.stop()
      // the timed stream's own buffer (over 100 files) would take most of a
      // run to sweep at one Spark job per file; the drained buffers of the
      // earlier set-ups are swept instead
      val label = if (ctx.trace) "traced" else "plain"
      ctx.phase("retention", label) {
        // reopened on the current session: each set-up ran on its own
        stopped.result().foreach { case (root, name) => new Tracked(ctx, root, name).sweep(label) }
      }
      val files = t.bufferFiles()
      rec("tail", "stream" -> t.name, "appended" -> t.appended.get, "emitted" -> t.emitted.get,
        "buffer_files" -> files.size, "buffer_bytes" -> files.map(Files.size).sum)
    }
  }

  // ── stream-drain: closed loop, append → drain → retention per pass ──────
  object Drain {
    val PerFile = 1000
    val Files = 18
    val Size = 300
    val FilesPerTrigger = 5
    val MinPasses = 2       // pooled window latencies need 92 windows for p90
    val WarmFiles = 12      // first set-up: JIT warm-up of the drain path

    def pass(ctx: Ctx, label: String, k: Int, files: Int, workers: Int, verify: Boolean = true): Unit = {
      val name = s"drain-$label-$k"
      val t = new Tracked(ctx, ctx.work.resolve(name).toString, name)
      val batches = (0 until files).map(_ => t.backlog(label, PerFile))
      val a0 = nowUs
      batches.foreach { b =>
        val s = nowUs
        tagged(ctx.spark, "flush")(t.stream.appendAll(b))
        t.appended.addAndGet(b.size)
        span("MbStream.appendAll", label, s, nowUs, "stream" -> name, "msgs" -> b.size)
      }
      val a1 = nowUs
      val files0 = t.bufferFiles()
      val bufBytes = files0.map(java.nio.file.Files.size).sum
      sampleBacklog(ctx, t, label) {
        t.mb.streaming(name).size(Size).keep(true).maxWorkers(workers)
          .maxFilesPerTrigger(FilesPerTrigger).emit(t.emitFn).batchSink(t.sinkFn).run()
      }
      val d1 = nowUs
      if (verify) {
        // correctness: every message is in the kept history once and in the
        // sink output once, under the same window id
        def tag(df: DataFrame, h: Int) = df.select(col("window_id"), col("data"),
          lit(h).as("h"), lit(1 - h).as("s"))
        val r = tag(t.stream.windows(), 1).unionByName(tag(ctx.spark.read.parquet(t.sinkDir), 0))
          .groupBy("window_id", "data").agg(sum("h").as("h"), sum("s").as("s"))
          .agg(count(lit(1)), sum(when(col("h") =!= 1 || col("s") =!= 1, 1).otherwise(0)))
          .head()
        rec("pass", "phase" -> label, "stream" -> name, "rep" -> k, "workers" -> workers,
          "msgs" -> files * PerFile, "files" -> files0.size, "buffer_bytes" -> bufBytes,
          "append_start_us" -> a0, "append_end_us" -> a1, "drain_end_us" -> d1,
          "kept_keys" -> r.getLong(0), "kept_mismatched" -> r.getLong(1))
      }
      t.sweep(label)
    }

    def passes(ctx: Ctx, label: String, workers: Int): Unit = {
      val until = System.nanoTime() + ctx.seconds * 1000000000L
      var k = 0
      do {
        k += 1
        ctx.phase("pass", label)(pass(ctx, label, k, Files, workers))
      } while (System.nanoTime() < until || k < MinPasses)
    }

    def run(ctx: Ctx, reps: Int): Unit = {
      for (k <- 1 to reps) {
        val s = nowUs
        ctx.newSession()
        pass(ctx, "warm", k, if (k == 1) WarmFiles else 3, ctx.cores, verify = false)
        rec("setup", "rep" -> k, "start_us" -> s, "end_us" -> nowUs, "drained" -> true)
      }
      passes(ctx, "plain", ctx.cores)
      if (ctx.trace) {
        ctx.startTracing()
        passes(ctx, "traced", ctx.cores)
        ctx.phase("pass", "workers1")(pass(ctx, "workers1", 1, Files, 1))
      }
    }
  }

  def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, outFile) = args
    val ctx = new Ctx(seed.toLong, seconds.toInt, trace == "1", Paths.get(work))
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // same method as graft.Bench: system CPU share minus this JVM's, in cores
    def externalCpu(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        val sys = b.getCpuLoad
        val self = b.getProcessCpuLoad
        if (sys.isNaN || self.isNaN) -1.0
        else math.max(0.0, sys - self) * Runtime.getRuntime.availableProcessors()
      case _ => -1.0
    }
    externalCpu(): Unit // prime the tick counters
    val reps = 3
    try workload match {
      case "stream-live" => Live.run(ctx, reps)
      case "stream-drain" => Drain.run(ctx, reps)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      rec("env", "nproc" -> ctx.cores, "jdk" -> System.getProperty("java.version"),
        "spark" -> (if (ctx.spark != null) ctx.spark.version else ""),
        "external_cpu" -> externalCpu(), "vm_hwm_kb" -> vmHwmKb())
      ctx.stop()
      Files.write(Paths.get(outFile), records.asScala.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }
}
