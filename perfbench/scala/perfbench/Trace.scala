package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans kept in memory and written once at exit. A span has a name,
  * start and end (ns since the tracer started), the id of the span that
  * caused it (-1 for none) and a request id (-1 outside requests). */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, request: Long)

  private val t0 = System.nanoTime()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Time `body` as a span; returns its result. A disabled tracer only
    * runs the body. */
  def span[T](name: String, parent: Int = -1, request: Long = -1L)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = synchronized { nextId += 1; nextId }
      val s = System.nanoTime() - t0
      try body(id)
      finally {
        val e = System.nanoTime() - t0
        synchronized { spans += Span(id, name, s, e, parent, request) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** A span's duration minus the part of it that its children cover
    * (children may overlap; their union is subtracted). */
  def selfTimesMs: Seq[(Span, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start),
        math.min(c.end, s.end))).filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s -> (s.end - s.start - covered) / 1e6
    }
  }

  /** Median self time (ms) per span name. */
  def selfMedianMs: Map[String, Double] =
    selfTimesMs.groupBy(_._1.name).map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }

  def toJson: String = {
    val self = selfTimesMs.map { case (s, ms) => s.id -> ms }.toMap
    all.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        f""""parent":${s.parent},"request":${s.request},"self_ms":${self(s.id)}%.4f}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Spark work counters: a `SparkListener` registered from benchmark
  * code, never from the program. */
final class Counters extends SparkListener {
  private var jobs = 0L
  private var tasks = 0L
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L
  private var cpuNs = 0L
  private var inputRecords = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      inputRecords += m.inputMetrics.recordsRead
    }
  }

  def snapshot: Map[String, Long] = synchronized(Map(
    "jobs" -> jobs, "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "cpu_ns" -> cpuNs, "input_records" -> inputRecords))
}

/** Micro-batch engine phases summed over every progress event of a
  * `StreamingQueryListener` registered from benchmark code. */
final class StreamCounters extends StreamingQueryListener {
  val phaseMs = scala.collection.concurrent.TrieMap.empty[String, Long]
  @volatile var batches = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    e.progress.durationMs.forEach((k, v) => phaseMs.put(k, phaseMs.getOrElse(k, 0L) + v.longValue))
  }
}

/** Host state that makes a slow run explainable from its artifact. */
object Host {
  /** (steal, total) jiffies from /proc/stat's aggregate cpu line. */
  def stealTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Fixed single-thread CPU canary: SHA-256 over 64 MiB. */
  def canaryMs(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** The JVM's resident-set high-water mark (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }

  def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
}

/** Spark-side helpers the listeners need. */
object Listen {
  /** Run `body` with fresh counters attached, after the listener bus
    * has delivered every event of the body's jobs. */
  def counted[T](spark: SparkSession)(body: => T): (T, Map[String, Long]) = {
    val c = new Counters
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBridge.drain(sc)
    sc.addSparkListener(c)
    try {
      val r = body
      org.apache.spark.PerfbenchBridge.drain(sc)
      (r, c.snapshot)
    } finally sc.removeSparkListener(c)
  }
}
