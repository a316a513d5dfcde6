package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.operators.{MqttPipeline, MqttQueries}
import graft.sources.mqtt._
import graft.streaming.{MqttMsg, StatefulCdc, UpsertSink}

/** JVM side of the benchmark. It drives the unchanged program through its
  * public entry points and writes raw measurements into a work directory;
  * `run.py` turns them into metrics and checks the outputs.
  *
  * Usage: Harness <workload> <workDir> key=value...
  *
  * The generator (`gen.py`) is a separate process. Requests to it go out on
  * stdout as `GEN <command>` lines and its one-line reply comes back on stdin;
  * `run.py` relays both. Every layer is timed from outside, around the
  * harness's own calls into it.
  */
object Harness {

  // ---- generator relay ----------------------------------------------------
  private val stdin = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
  private def gen(cmd: String): Unit = synchronized {
    System.out.println(s"GEN $cmd")
    System.out.flush()
    val reply = stdin.readLine()
    require(reply != null && reply.startsWith("OK"), s"generator refused '$cmd': $reply")
  }

  // ---- results ------------------------------------------------------------
  private val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private def put(k: String, v: Any): Unit = out.synchronized(out(k) = v)
  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }
  private def writeText(f: File, body: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(body) finally w.close()
  }

  // ---- spans (traced runs only) -------------------------------------------
  final case class Span(name: String, id: Long, parent: String, start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private def span(name: String, id: Long, parent: String, start: Long, end: Long): Unit =
    spans.synchronized(spans += Span(name, id, parent, start, end))

  // ---- session ------------------------------------------------------------
  private def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use right after a full collection, in MB. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Counts from a SparkListener the benchmark registers (traced runs). */
  final class Counters extends SparkListener {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong; val runNs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        runNs.addAndGet(m.executorRunTime * 1000000L)
      }
    }
  }

  /** Progress of every micro-batch of every stream in the session. */
  final class Progress extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val all = new java.util.concurrent.ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = all.add((e.progress, System.nanoTime()))
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def offset(s: String): Long = if (s == null || s == "null") 0L else s.trim.toLong

  /** Micro-batch phase durations (ms) and state sizes of data batches. */
  private def progressStats(ps: Seq[StreamingQueryProgress]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def phase(k: String) = data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    put("mb.batches", data.size)
    for (k <- Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit",
        "commitOffsets", "latestOffset", "getBatch"))
      put(s"phase.$k", phase(k))
    val st = data.flatMap(_.stateOperators.headOption)
    put("cdc.state_rows", st.lastOption.map(_.numRowsTotal).getOrElse(0L))
    put("cdc.state_mem_bytes", st.lastOption.map(_.memoryUsedBytes).getOrElse(0L))
    put("cdc.state_commit_ms", st.map(_.commitTimeMs.toDouble))
  }

  // ---- live ingest plumbing -------------------------------------------------
  /** One live ingest stack: a client connected to the generator over
    * loopback TCP, feeding the broker buffer through the benchmark's own sink
    * callback (the same call `MqttClient.forBroker` makes, plus counters).
    */
  final class Live(broker: String, port: Int, capacity: Int, traced: Boolean,
      record: Boolean = false) {
    MqttBroker.clear(broker)
    val delivered = new AtomicLong
    val entryNs = if (traced) new AtomicLongArray(capacity) else null
    // arrival order as delivered (burst's correctness check), by reference
    val topics = if (record) new Array[String](capacity) else null
    val values = if (record) new Array[Array[Byte]](capacity) else null
    val tsMicros = if (record) new Array[Long](capacity) else null
    val publishNs = new AtomicLong
    @volatile var target = Long.MaxValue
    @volatile var reachedNs = 0L
    private var lastTs = 0L
    private val sink: (String, Array[Byte], Int, Boolean) => Unit = (topic, payload, qos, retain) => {
      val t0 = System.nanoTime()
      val pos = delivered.get()
      if (traced && pos < capacity) entryNs.set(pos.toInt, t0)
      // receipt time, never decreasing, so (ts, msg_id) order is delivery order
      lastTs = math.max(lastTs, System.currentTimeMillis() * 1000L)
      MqttBroker.publish(broker, topic, payload, qos, retain, lastTs)
      if (record && pos < capacity) {
        topics(pos.toInt) = topic; values(pos.toInt) = payload; tsMicros(pos.toInt) = lastTs
      }
      if (traced) publishNs.addAndGet(System.nanoTime() - t0)
      if (delivered.incrementAndGet() == target) reachedNs = System.nanoTime()
    }
    val transport = new SocketMqttTransport()
    val client = new MqttClient(transport, MqttClient.Options(
      MqttConfig.Endpoint("mqtt", "127.0.0.1", port, None, None, None, tls = false),
      subscriptions = Seq("tele/#"),
      excludeTopics = MqttQueries.ExcludeTopics.toSet,
      clientId = s"perfbench-$broker",
      connectTimeoutMs = 5000), sink)
    client.connectWithRetry()
    @volatile private var stopping = false
    private val loop = new Thread(() => client.loopForever(() => stopping), s"perfbench-loop-$broker")
    loop.setDaemon(true)
    loop.start()

    def awaitDelivered(n: Long, timeoutMs: Long = 60000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (delivered.get() < n && System.currentTimeMillis() < deadline) Thread.sleep(1)
    }
    def close(): Unit = { stopping = true; loop.join(5000); MqttBroker.clear(broker) }
  }

  /** Samples the broker buffer (traced runs): (ns, high-water, retained). */
  final class BufferSampler(broker: String) {
    val samples = ArrayBuffer.empty[(Long, Long, Int)]
    @volatile private var on = true
    private val t = new Thread(() => while (on) {
      samples.synchronized(samples += ((System.nanoTime(), MqttBroker.size(broker), MqttBroker.retained(broker))))
      Thread.sleep(10)
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    def stop(): Seq[(Long, Long, Int)] = { on = false; t.join(); samples.toSeq }
  }

  private def sourceFormat(traced: Boolean): String =
    if (traced) classOf[TracedMqttSourceProvider].getName
    else "graft.sources.mqtt.MqttSourceProvider"

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(2)
    cond
  }

  private def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  // ---- workload: steady upsert with a dashboard reader ------------------------
  private def steady(work: File, kv: Map[String, String], traced: Boolean): Unit = {
    val cores = kv("cores").toInt
    val rate = kv("rate").toDouble
    val warm = kv("warm").toInt
    val prewarm = kv("prewarm").toInt
    val measured = kv("measured").toInt
    val readRate = kv("read_rate").toDouble
    val reps = kv("setup_reps").toInt
    val port = kv("port").toInt
    // UpsertSink.merge publishes by renaming the live state away and deleting
    // it, so a scan that overlaps a merge fails with FILE_NOT_EXIST: the
    // file-based sink gives readers no isolation. With guard=1 (the default)
    // the dashboard's reads and the merges take this lock, as a reader and a
    // writer of a store with table locks would, and no read fails; guard=0
    // leaves the reads unguarded and shows the race.
    val guard = if (kv.getOrElse("guard", "1") == "1") Some(new ReentrantReadWriteLock(true)) else None
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var live: Live = null
    var q: StreamingQuery = null
    var startQuery: () => StreamingQuery = null
    var statePath = ""
    val commits = new ConcurrentHashMap[Long, (Long, Long, Long)]()
    var stateWrites = 0L
    var progress: Progress = null
    var counters: Counters = null

    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      progress = new Progress; spark.streams.addListener(progress)
      counters = new Counters; spark.sparkContext.addSparkListener(counters)
      val dir = new File(work, s"steady_$rep")
      statePath = new File(dir, "state").getAbsolutePath
      live = new Live(s"steady_$rep", port, warm + prewarm + measured, traced)
      commits.clear()
      val path = statePath
      val onBatch: (DataFrame, Long) => Unit = (df, id) => {
        val w = System.nanoTime()
        guard.foreach(_.writeLock.lock())
        val m0 = System.nanoTime()
        try UpsertSink.merge(path)(df, id)
        finally guard.foreach(_.writeLock.unlock())
        val m1 = System.nanoTime()
        commits.put(id, (w, m0, m1))
        if (traced) stateWrites += dirBytes(new File(path))
      }
      val s = spark
      startQuery = () => s.readStream.format(sourceFormat(traced))
        .option("broker", s"steady_$rep").option("subscribe", "tele/#").load()
        .writeStream.foreachBatch(onBatch)
        .option("checkpointLocation", new File(dir, "ck").getAbsolutePath)
        .start()
      q = startQuery()
      gen(s"SEND phase=warm start=0 count=$warm rate=0")
      val expect = kv("warm_delivered").toLong
      live.awaitDelivered(expect)
      waitFor(60000)(committedEnd(q) >= expect)
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < reps) {
        q.stop(); live.close(); spark.stop()
      }
    }
    put("setup_s", setups)

    val s = spark
    /** One dashboard read: the state, a point lookup and a full-state
      * aggregate. A failure is counted, never retried. Returns when the
      * read got the lock, and 1 for a result or 0 for a failure. */
    def read(k: Int, trace: Boolean): (Long, Int) = {
      guard.foreach(_.readLock.lock())
      val st = System.nanoTime()
      val ok = try {
        UpsertSink.readState(s, statePath) match {
          case Some(df) =>
            val a = System.nanoTime()
            df.filter(col("topic") === f"tele/click/${k % 100}%d").select("value").collect()
            df.agg(count(lit(1)), sum(length(col("value")))).collect()
            if (trace) span("readState", k, "read", st, a)
            1
          case None => 0
        }
      } catch { case _: Exception => 0 }
      finally guard.foreach(_.readLock.unlock())
      (st, ok)
    }

    /** `n` reads, due every 1/readRate s from `r0` on, dispatched on schedule
      * to a pool of four threads. The returned join waits for them and gives
      * (due, begin, locked, end, ok) per read that returned. */
    def openLoopReads(n: Int, r0: Long, trace: Boolean): () => Seq[(Long, Long, Long, Long, Int)] = {
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Int)]()
      val pool = Executors.newFixedThreadPool(4)
      val dispatcher = new Thread(() => {
        for (k <- 0 until n) {
          val due = r0 + (k * 1e9 / readRate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
          pool.submit(new Runnable { def run(): Unit = {
            val begin = System.nanoTime()
            val (st, ok) = read(k, trace)
            val end = System.nanoTime()
            if (trace) span("read", k, "", begin, end)
            reads.add((due, begin, st, end, ok))
          }})
        }
      }, "perfbench-reader")
      dispatcher.start()
      () => {
        dispatcher.join()
        pool.shutdown()
        pool.awaitTermination(60, TimeUnit.SECONDS)
        reads.asScala.toSeq
      }
    }

    // warm-up before the window, in two halves of traffic at `rate`, so that
    // the JIT has settled on the merge and read paths (merge and read times
    // still halve over the first ~40 s of a cold JVM).
    // First half: back-to-back reads on four threads. They give the reader's
    // capacity alongside the ingest: reads per second while the four threads
    // keep busy.
    val firstHalf = prewarm / 2
    val warmPool = Executors.newFixedThreadPool(4)
    val warming = new java.util.concurrent.atomic.AtomicBoolean(true)
    val warmReads = new AtomicLong
    val w0 = System.nanoTime()
    for (t <- 0 until 4) warmPool.submit(new Runnable { def run(): Unit = {
      var k = t
      while (warming.get()) { read(k, trace = false); warmReads.incrementAndGet(); k += 4 }
    }})
    gen(s"SEND phase=prewarm start=$warm count=$firstHalf rate=$rate")
    warming.set(false)
    warmPool.shutdown()
    warmPool.awaitTermination(60, TimeUnit.SECONDS)
    put("reader.capacity_per_s", warmReads.get() / ((System.nanoTime() - w0) / 1e9))
    // Second half: reads at the offered rate, as in the window, so that the
    // backlog the back-to-back reads left has drained when the window starts.
    val settle = openLoopReads(((prewarm - firstHalf) / rate * readRate).toInt, System.nanoTime(), trace = false)
    gen(s"SEND phase=settle start=${warm + firstHalf} count=${prewarm - firstHalf} rate=$rate")
    settle()

    // measured window: generator sends at `rate`, the reader reads at `readRate`;
    // per-layer counts start here, after the set-ups and the warm-up
    TracedMqttSourceProvider.drain()
    val c0 = snapshot(counters)
    val written0 = stateWrites
    val boundary = kv("warm_delivered").toLong + kv("prewarm_delivered").toLong
    val sampler = if (traced) new BufferSampler(s"steady_$reps") else null
    val gc0 = gcSeconds()
    val nReads = (measured / rate * readRate).toInt
    val windowReads = openLoopReads(nReads, System.nanoTime() + 50000000L, traced)
    gen(s"SEND phase=measure start=${warm + prewarm} count=$measured rate=$rate")
    val expect = kv("warm_delivered").toLong + kv("prewarm_delivered").toLong +
      kv("measured_delivered").toLong
    val reads = windowReads()
    live.awaitDelivered(expect, 10000)
    val delivered = live.delivered.get()
    waitFor(15000)(committedEnd(q) >= delivered)
    val heap = heapAfterGcMb()
    put("jvm.gc_s", gcSeconds() - gc0)
    put("lost", MqttBroker.lostCount(s"steady_$reps"))
    if (sampler != null) put("broker.samples", sampler.stop().map { case (t, n, r) => Seq(t, n, r) })
    put("heap_mb", Seq(heap))
    // per-layer figures of the window, before the catch-up adds to them
    val windowCounters = snapshot(counters)
    val windowWrites = stateWrites
    val windowPublishNs = live.publishNs.get()
    val windowPlans = TracedMqttSourceProvider.drain()

    // catch-ups after the window, as after a restart: the query stops, a
    // backlog arrives while it is down, sent as fast as the socket takes it,
    // and the query restarts from its checkpoint. A catch-up runs from the
    // restart until the merge that commits the backlog's last message returns.
    val backlog = kv("backlog").toInt
    val started = ArrayBuffer(q)
    val restarts = ArrayBuffer.empty[Long]
    var expectAll = delivered
    for ((d, i) <- kv("backlog_delivered").split(",").map(_.toLong).zipWithIndex) {
      q.stop()
      gen(s"SEND phase=backlog$i start=${warm + prewarm + measured + i * backlog} count=$backlog rate=0")
      expectAll += d
      live.awaitDelivered(expectAll, 30000)
      restarts += System.nanoTime()
      q = startQuery()
      started += q
      waitFor(60000)(committedEnd(q) >= live.delivered.get())
    }
    put("restart_ns", restarts)
    put("delivered_all", live.delivered.get())
    q.stop()
    live.close()

    val ps = started.toSeq.flatMap(_.recentProgress.toSeq)
    val rows = ps.filter(_.numInputRows > 0).flatMap { p =>
      Option(commits.get(p.batchId)).map { case (w, m0, m1) =>
        Seq(p.batchId, offset(p.sources(0).startOffset), offset(p.sources(0).endOffset), m0, m1, w)
      }
    }
    put("batches", rows)
    put("delivered", delivered)
    put("reads", reads.map { case (d, b, st, e, ok) => Seq(d, b, st, e, ok) })
    put("reads_scheduled", nReads)
    val windowPs = ps.filter { p =>
      val end = offset(p.sources(0).endOffset)
      end > boundary && end <= delivered
    }
    progressStats(windowPs)
    if (traced) {
      put("entry_ns", (0 until math.min(delivered, live.entryNs.length().toLong).toInt).map(live.entryNs.get))
      put("client.publish_ns", windowPublishNs)
      put("sink.state_bytes", dirBytes(new File(statePath)))
      put("sink.bytes_written", windowWrites - written0)
      putCounters(windowCounters, c0)
      put("source.plans", windowPlans)
      for (p <- windowPs.filter(_.numInputRows > 0); c <- Option(commits.get(p.batchId))) {
        span("sink.merge", p.batchId, "batch", c._2, c._3)
      }
      batchSpans(windowPs, progress)
    }
    // final state, for the correctness check
    val state = UpsertSink.readState(spark, statePath).get
      .select(col("topic"), hex(col("value"))).collect()
      .map(r => r.getString(0) + "\t" + r.getString(1)).sorted
    writeText(new File(work, "state.tsv"), state.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Highest end offset of a completed data batch. */
  private def committedEnd(q: StreamingQuery): Long = {
    val p = q.lastProgress
    if (p == null || p.sources.isEmpty) 0L else offset(p.sources(0).endOffset)
  }

  private def snapshot(c: Counters): Seq[Long] =
    Seq(c.jobs.get(), c.tasks.get(), c.shuffleBytes.get(), c.runNs.get())

  /** Listener counts accumulated since `from` (a [[snapshot]]). */
  private def putCounters(c: Counters, from: Seq[Long]): Unit = putCounters(snapshot(c), from)
  private def putCounters(to: Seq[Long], from: Seq[Long]): Unit = {
    val d = to.zip(from).map { case (a, b) => a - b }
    put("spark.jobs", d(0)); put("spark.tasks", d(1))
    put("spark.shuffle_bytes", d(2)); put("spark.executor_run_s", d(3) / 1e9)
  }

  /** One span per micro-batch with its progress phases as children; all
    * share the batch id.
    */
  private def batchSpans(ps: Seq[StreamingQueryProgress], progress: Progress): Unit = {
    val seen = progress.all.asScala.map { case (p, ns) => (p.runId, p.batchId) -> ns }.toMap
    for (p <- ps if p.numInputRows > 0; end <- seen.get((p.runId, p.batchId))) {
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = end - total * 1000000L
      span("batch", p.batchId, "", start, end)
      var at = start
      for (k <- Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets");
           d <- Option(p.durationMs.get(k))) {
        span(s"batch.$k", p.batchId, "batch", at, at + d.longValue * 1000000L)
        at += d.longValue * 1000000L
      }
    }
  }

  // ---- workload: restart catch-up through stateful CDC -------------------------
  private def burst(work: File, kv: Map[String, String], traced: Boolean): Unit = {
    val cores = kv("cores").toInt
    val warm = kv("warm").toInt
    val backlog = kv("backlog").toInt
    val reps = kv("setup_reps").toInt
    val port = kv("port").toInt
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var live: Live = null
    var dir: File = null
    var progress: Progress = null
    var counters: Counters = null
    def cdcQuery(s: SparkSession, broker: String, d: File): StreamingQuery = {
      val msgs = s.readStream.format(sourceFormat(traced))
        .option("broker", broker).option("subscribe", "tele/#").load()
        .as[MqttMsg](Encoders.product[MqttMsg])
      StatefulCdc.changes(msgs).writeStream.format("parquet")
        .option("path", new File(d, "history").getAbsolutePath)
        .option("checkpointLocation", new File(d, "ck").getAbsolutePath)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      progress = new Progress; spark.streams.addListener(progress)
      counters = new Counters; spark.sparkContext.addSparkListener(counters)
      dir = new File(work, s"burst_$rep")
      live = new Live(s"burst_$rep", port, warm + backlog, traced, record = rep == reps)
      gen(s"SEND phase=warm start=0 count=$warm rate=0")
      live.awaitDelivered(kv("warm_delivered").toLong)
      val q = cdcQuery(spark, s"burst_$rep", dir)
      q.awaitTermination()
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < reps) { live.close(); spark.stop() }
    }
    put("setup_s", setups)
    val broker = s"burst_$reps"
    TracedMqttSourceProvider.drain() // plans of the set-ups are not measured

    // backlog: published while no query runs, buffered on the driver
    val sampler = if (traced) new BufferSampler(broker) else null
    val expected = kv("warm_delivered").toLong + kv("backlog_delivered").toLong
    live.target = expected
    gen(s"SEND phase=backlog start=$warm count=$backlog rate=0")
    live.awaitDelivered(expected, 60000)
    put("frontdoor_done_ns", live.reachedNs)
    put("delivered", live.delivered.get())
    put("lost", MqttBroker.lostCount(broker))
    put("broker.retained_max", MqttBroker.retained(broker))
    val heapBuffered = heapAfterGcMb()
    val gc0 = gcSeconds()

    // restart from the checkpoint and drain everything available
    val c0 = snapshot(counters)
    val d0 = System.nanoTime()
    val q = cdcQuery(spark, broker, dir)
    q.awaitTermination()
    val d1 = System.nanoTime()
    put("drain_start_ns", d0); put("drain_end_ns", d1)
    put("jvm.gc_s", gcSeconds() - gc0)
    if (sampler != null) put("broker.samples", sampler.stop().map { case (t, n, r) => Seq(t, n, r) })
    val ps = q.recentProgress.toSeq
    val seen = progress.all.asScala.map { case (p, ns) => (p.runId, p.batchId) -> ns }.toMap
    put("batches", ps.filter(_.numInputRows > 0).map { p =>
      Seq(p.batchId, offset(p.sources(0).startOffset), offset(p.sources(0).endOffset),
        0L, seen.getOrElse((p.runId, p.batchId), d1))
    })
    progressStats(ps)
    val heapDrained = heapAfterGcMb()
    put("heap_mb", Seq(heapBuffered, heapDrained))
    live.close()
    if (traced) {
      put("entry_ns", (0 until math.min(live.delivered.get(), live.entryNs.length().toLong).toInt)
        .map(live.entryNs.get))
      put("client.publish_ns", live.publishNs.get())
      putCounters(counters, c0)
      put("source.plans", TracedMqttSourceProvider.drain())
      batchSpans(ps, progress)
    }

    // correctness: the history sink against MqttPipeline.historyKept over
    // the same arrival order (every delivered message, positions as msg_id)
    val hist = spark.read.parquet(new File(dir, "history").getAbsolutePath)
    put("history_rows", hist.count())
    val n = live.delivered.get().toInt
    val arrivals = spark.createDataset((0 until n).map { i =>
      val ts = new java.sql.Timestamp(live.tsMicros(i) / 1000L)
      ts.setNanos(((live.tsMicros(i) % 1000000L) * 1000L).toInt)
      MqttMsg(i.toLong, ts, live.topics(i), live.values(i), 0, 0)
    })(Encoders.product[MqttMsg]).toDF()
    val expectKept = MqttPipeline.historyKept(arrivals)
    def dump(df: DataFrame, name: String): Unit = {
      val lines = df.select(col("msg_id"), col("topic"), hex(col("value")))
        .orderBy("msg_id").collect().map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.getString(2)}")
      writeText(new File(work, name), lines.mkString("", "\n", "\n"))
    }
    dump(hist, "history_actual.tsv")
    dump(expectKept, "history_expected.tsv")
    spark.stop()
  }

  // ---- workload: the mqtt_* read surface ------------------------------------------
  private def queries(work: File, kv: Map[String, String], traced: Boolean): Unit = {
    val cores = kv("cores").toInt
    val reps = kv("setup_reps").toInt
    val data = kv("data")
    val names = SparkEntry.queries.keys.filter(_.startsWith("mqtt_")).toSeq.sorted
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var progress: Progress = null
    var counters: Counters = null
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      progress = new Progress; spark.streams.addListener(progress)
      counters = new Counters; spark.sparkContext.addSparkListener(counters)
      warmUp(spark, data)
      setups += (System.nanoTime() - t0) / 1e9
      if (rep < reps) spark.stop()
    }
    put("setup_s", setups)
    val qdir = new File(work, "q")
    val errors = ArrayBuffer.empty[String]
    def dump(name: String, df: DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(new File(qdir, name).getAbsolutePath)
      catch { case e: Exception => errors += s"$name: result ${e.getClass.getSimpleName}" }
    // Outside the timed region, before it: the batch forms' results, for the
    // oracle check. This also runs each batch form once before it is timed.
    // The streaming forms (SparkEntry.eagerQueries) run their stream when the
    // frame is built and return its collected result, so they are dumped from
    // the timed frame instead of being replayed twice.
    val eager = names.filter(SparkEntry.eagerQueries.contains)
    for (name <- names if !eager.contains(name)) {
      try dump(name, SparkEntry.queries(name)(spark, data))
      catch { case e: Exception => errors += s"$name: ${e.getClass.getSimpleName}" }
    }
    progress.all.clear() // the warm-up streams are not measured
    val gc0 = gcSeconds()
    val c0 = snapshot(counters)
    val times = ArrayBuffer.empty[(String, Double)]
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    var wall = 0L
    for (name <- names) {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try {
        val d = SparkEntry.queries(name)(spark, data)
        d.write.format("noop").mode("overwrite").save()
        built(name) = d
      } catch { case e: Exception => errors += s"$name: ${e.getClass.getSimpleName}" }
      val t1 = System.nanoTime()
      wall += t1 - t0
      if (traced) span(s"query.$name", times.size, "", t0, t1)
      times += name -> (t1 - t0) / 1e9
    }
    for (name <- eager; d <- built.get(name)) dump(name, d)
    built.clear()
    put("jvm.gc_s", gcSeconds() - gc0)
    put("heap_mb", Seq(heapAfterGcMb()))
    put("query_s", times.map { case (n, t) => Seq(n, t) })
    put("eager", eager)
    put("errors", errors)
    writeText(new File(work, "oracle_sql.json"),
      json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    if (traced) {
      putCounters(counters, c0)
      put("wall_s", wall / 1e9)
      progressStats(progress.all.asScala.map(_._1).toSeq)
      batchSpans(progress.all.asScala.map(_._1).toSeq, progress)
    }
    spark.stop()
  }

  /** Session warm-up before timing, as `graft.Bench` does: a range
    * aggregate, one scan of the message table and a one-row stateful stream.
    */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries("mqtt_messages")(spark, data).write.format("noop").mode("overwrite").save()
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ws = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    val q = ws.toDF().toDF("ts", "k").withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("memory").queryName("perfbench_warmup")
      .outputMode("append").start()
    try {
      ws.addData(Seq((new java.sql.Timestamp(0L), 1L)))
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.dropTempView("perfbench_warmup")
  }

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val work = new File(args(1))
    val kv = args.drop(2).map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val traced = kv.getOrElse("trace", "0") == "1"
    work.mkdirs()
    workload match {
      case "steady_upsert_reads" => steady(work, kv, traced)
      case "burst_catchup" => burst(work, kv, traced)
      case "mqtt_queries" => queries(work, kv, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) {
      val lines = spans.map(s => json(Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end)))
      writeText(new File(work, "spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    writeText(new File(work, "jvm.json"), json(out))
    System.out.println("DONE")
    System.out.flush()
  }
}
